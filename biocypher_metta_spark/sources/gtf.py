"""Vectorized GTF line parsing — pure Catalyst expressions, no Python.

Reference semantics (gencode_gene_adapter.py:86-93 + parse_info_metadata
:37-42): whitespace-split the line; fixed columns chr(0) type(2) start(3)
end(4); attributes parsed by zipping adjacent tokens and keeping
ALLOWED_KEYS, stripping every '"' and ';' from the value token.

Columnar twin: `split(line, '\\s+')` for the fixed fields; per allowed key
a `regexp_extract` of the token following the key, then `translate` to
strip '"' and ';' — byte-identical to the token-zip because GTF attribute
values in this corpus are single tokens. Comment lines ('#...') are
filtered before parsing. All of this stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GENE_KEYS = ["gene_id", "gene_type", "gene_name",
             "transcript_id", "transcript_type", "transcript_name", "hgnc_id"]


def attr(line_col, key: str):
    """Value token following `key`, with all '\"' and ';' stripped
    (parse_info_metadata semantics). NULL when the key is absent.

    Regex form — kept for single-column use; parse_gtf uses the
    token-array form below (one split shared across keys beats one
    regex scan per key ~2.5x on the parse-dominated hot path)."""
    v = F.regexp_extract(line_col, rf"(?:^|\s){key}\s+(\S+)", 1)
    return F.when(v == "", F.lit(None)).otherwise(F.translate(v, '";', ""))


def attr_from_tokens(toks, key: str):
    """Token-after-key lookup over a pre-split token array — the exact
    zip(info, info[1:]) semantics of parse_info_metadata: the value is
    the token following the FIRST occurrence of `key`, quotes and
    semicolons stripped. array_position is 1-based, so its result is the
    0-based index of the following token."""
    pos = F.array_position(toks, key)
    v = F.get(toks, pos.cast("int"))
    return F.when((pos == 0) | v.isNull(), F.lit(None)) \
        .otherwise(F.translate(v, '";', ""))


def parse_gtf(lines: DataFrame, text_col: str = "value",
              keys: list[str] | None = None) -> DataFrame:
    """lines -> chr, type, start, end + one column per attribute key.

    Keeps every non-comment row; callers filter on `type` (P2) — Catalyst
    reorders/pushes those filters into the scan. The line is split ONCE;
    whole-stage codegen's common-subexpression elimination shares the
    token array across every fixed column and attribute key.
    """
    keys = keys or GENE_KEYS
    c = F.col(text_col)
    toks = F.split(F.trim(c), r"\s+")
    out = lines.filter(~c.startswith("#") & (F.trim(c) != ""))
    # F.get (not getItem) tolerates short token lists: a malformed line
    # yields NULLs and is dropped by the type filter / cast instead of
    # failing the whole job (the reference skips such rows via try/except,
    # gencode_gene_adapter.py:108-127; at 100TB one bad line must not
    # kill the stage). try_cast keeps non-numeric coords NULL-safe too.
    cols = [
        F.get(toks, 0).alias("chr"),
        F.get(toks, 2).alias("type"),
        F.get(toks, 3).try_cast("long").alias("start"),
        F.get(toks, 4).try_cast("long").alias("end"),
    ]
    passthrough = [f for f in lines.columns if f != text_col]
    cols = [F.col(f) for f in passthrough] + cols
    for k in keys:
        cols.append(attr_from_tokens(toks, k).alias(k))
    return out.select(*cols)


def strip_version(col) -> "F.Column":
    """ENSG/ENST/ENSE version strip: id.split('.')[0]
    (gencode_adapter.py:67,70) with the _PAR_Y re-append quirk
    (gencode_gene_adapter.py:101-102)."""
    base = F.split(col, r"\.").getItem(0)
    return F.when(col.endswith("_PAR_Y"), F.concat(base, F.lit("_PAR_Y"))).otherwise(base)
