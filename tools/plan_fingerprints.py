"""Plan fingerprints of every pipeline registry entry.

For each PIPELINE_REGISTRY entry, `pipeline.build(ctx, [entry])` runs on
the empty stub context of tests/pipeline_stub.py (fresh per entry), and
the analyzed and optimized logical plans of the result's nodes, edges
and atoms are hashed after stripping what varies between runs:
expression ids (`#123`), `plan_id=` tags and Python UDF names. Nothing is
executed. Two trees whose entries build the same plans print the same
hashes, so a refactor of the entry wiring can be checked by running this
on both trees and diffing. tools/plan_fingerprints.json is the output for
the tree it is committed with: `--check tools/plan_fingerprints.json`
after a change names the entries whose plans moved.

Usage: python tools/plan_fingerprints.py [--out FILE] [--check FILE]
  --out    write the {entry: {frame.plan: sha1}} JSON to FILE
  --check  compare against a JSON written by --out; exit 1 on any difference
"""

from __future__ import annotations

import argparse
import hashlib
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

_VOLATILE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"pythonUDF\d+"), "pythonUDF"),
]
# a Python UDF call listed by an (Arrow|Batch)EvalPython node: the first
# follows the opening bracket, the rest follow the previous call's id
_UDF_CALL = re.compile(r"(?:EvalPython \[|\)#\d+L?, )([A-Za-z_][\w]*)\(")


def normalize(plan: str, udf_names: set[str]) -> str:
    for name in udf_names:
        plan = plan.replace(name + "(", "udf(")
    for pat, rep in _VOLATILE:
        plan = pat.sub(rep, plan)
    return plan


def fingerprint(df) -> dict[str, str]:
    qe = df._jdf.queryExecution()
    plans = {"analyzed": qe.analyzed().toString(),
             "optimized": qe.optimizedPlan().toString()}
    # UDF names are read off the optimized plan, where cached frames show
    # their physical plan, and stripped from both
    udf_names = set(_UDF_CALL.findall(plans["optimized"]))
    return {kind: hashlib.sha1(normalize(text, udf_names).encode()).hexdigest()
            for kind, text in plans.items()}


def fingerprints(spark) -> dict[str, dict[str, str]]:
    from biocypher_metta_spark import pipeline
    from tests.pipeline_stub import entry_config, stub_context

    result = {}
    for name in pipeline.PIPELINE_REGISTRY:
        res = pipeline.build(stub_context(spark), entry_config(name))
        prints = {}
        for frame in ("nodes", "edges", "atoms"):
            df = getattr(res, frame)
            if df is not None:
                for kind, h in fingerprint(df).items():
                    prints[f"{frame}.{kind}"] = h
        result[name] = prints
    return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    ap.add_argument("--check")
    a = ap.parse_args()

    from biocypher_metta_spark.session import get_spark

    spark = get_spark("plan-fingerprints", master="local[2]",
                      extra_confs={"spark.ui.enabled": "false"})
    got = fingerprints(spark)
    spark.stop()
    text = json.dumps(got, indent=1, sort_keys=True)
    if a.out:
        Path(a.out).write_text(text + "\n")
    else:
        print(text)
    if a.check:
        want = json.loads(Path(a.check).read_text())
        diff = sorted(k for k in set(want) | set(got) if want.get(k) != got.get(k))
        print(json.dumps({"entries": len(got), "differ": diff}))
        return 1 if diff else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
