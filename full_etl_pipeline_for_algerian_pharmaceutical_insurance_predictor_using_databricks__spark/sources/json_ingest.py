"""Distributed ingestion of the reference's letter-keyed nested JSON
(operator S2, SURVEY.md §2.1).

The reference flattens `{"A": [{...}], "B": [...]}` with a Python
for-loop on the driver (Pharma_Ingestion_Cleaning.py:30-39) — O(dataset)
through driver memory. Here the flatten is a logical-plan transform:

    one-row DF of letter columns → stack → explode → records

so executors do the work from byte one. At real scale the landing
format should be JSONL (one record per line, splittable); `read_jsonl`
covers that path with an explicit schema (no inference scan).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import RAW_MEDICATION

#: Element type of each letter's array — RAW_MEDICATION minus the
#: injected first_letter.
_RECORD_FIELDS = [f for f in RAW_MEDICATION.fields if f.name != "first_letter"]


def read_letter_keyed_json(spark: SparkSession, path: str) -> DataFrame:
    """Load the letter-keyed document and flatten to one row per
    medication, injecting `first_letter` (parity with ING:30-39).

    multiLine JSON is unsplittable (one task reads the document) —
    acceptable for the reference's ~3 MB feed; see `read_jsonl` for the
    scale path."""
    import pyspark.sql.types as T

    doc = spark.read.option("multiLine", "true").json(path)
    letters = sorted(doc.columns)
    # Inference types each letter's array on that letter's records
    # alone: a letter whose `refundable` is NULL everywhere gets a
    # string where the others get a boolean, and `stack` rejects the
    # mix.  Bring every letter to the merge of all letters' element
    # types first — a no-op for letters that already have it.
    types = {f.name: f.dataType for f in doc.schema.fields}
    elems = {
        c: types[c].elementType
        for c in letters
        if isinstance(types[c], T.ArrayType)
    }
    merged = functools.reduce(_merge_types, elems.values()) if elems else None
    if any(t != merged for t in elems.values()):
        doc = doc.selectExpr(
            *[
                f"transform(`{c}`, _m -> {_conform('_m', elems[c], merged)})"
                f" AS `{c}`"
                if c in elems and elems[c] != merged
                else f"`{c}`"
                for c in letters
            ]
        )
    # stack('A', A, 'B', B, ...) → (first_letter, meds); explode arrays.
    stack_args = ", ".join(f"'{c}', `{c}`" for c in letters)
    stacked = doc.selectExpr(
        f"stack({len(letters)}, {stack_args}) as (first_letter, meds)"
    )
    exploded = stacked.select(
        "first_letter", F.explode("meds").alias("med")
    )
    # align to the declared record schema BY NAME, field by field —
    # never by a positional struct cast: json inference sorts nested
    # fields alphabetically, and casting the whole struct re-labels
    # them positionally (lab.name would silently receive the address,
    # therapeutic↔pharmacological would swap).  Inference also DROPS
    # all-null nested fields, so each subfield is looked up defensively
    # and NULLed when absent.
    inferred = {f.name: f.dataType for f in exploded.schema["med"].dataType.fields}

    def subfield(parent: str, name: str, dtype) -> F.Column:
        # An all-null parent is inferred as StringType, not StructType —
        # guard the fieldNames() probe or the lookup raises instead of
        # emitting a null-filled struct.
        parent_type = inferred.get(parent)
        present = (
            isinstance(parent_type, T.StructType)
            and name in parent_type.fieldNames()
        )
        col = F.col(f"med.{parent}.{name}") if present else F.lit(None)
        return col.cast(dtype).alias(name)

    cols: list[F.Column] = []
    for f in _RECORD_FIELDS:
        if isinstance(f.dataType, T.StructType):
            cols.append(
                F.struct(
                    *[
                        subfield(f.name, sf.name, sf.dataType)
                        for sf in f.dataType.fields
                    ]
                ).alias(f.name)
            )
        else:
            present = f.name in inferred
            col = F.col(f"med.{f.name}") if present else F.lit(None)
            cols.append(col.cast(f.dataType).alias(f.name))
    flat = exploded.select(*cols, F.col("first_letter").cast("string"))
    return flat.select(*[F.col(f.name) for f in RAW_MEDICATION.fields])


def _merge_types(a, b):
    """The common element type two letters' arrays meet at before
    `stack`: struct fields unioned by name (sorted, as inference sorts
    them), a struct beside a non-struct (an all-null parent) stays a
    struct, and any other disagreement widens to string.  Unlike JSON
    inference, which widens e.g. long + double to double, scalars meet
    at string: every declared leaf is a string except `refundable`,
    which the by-name alignment casts back from "true"/"false"."""
    import pyspark.sql.types as T

    if a == b:
        return a
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fa = {f.name: f.dataType for f in a.fields}
        fb = {f.name: f.dataType for f in b.fields}
        return T.StructType(
            [
                T.StructField(
                    n,
                    _merge_types(fa[n], fb[n])
                    if n in fa and n in fb
                    else fa.get(n, fb.get(n)),
                )
                for n in sorted(set(fa) | set(fb))
            ]
        )
    if isinstance(a, T.StructType) or isinstance(b, T.StructType):
        return a if isinstance(a, T.StructType) else b
    return T.StringType()


def _conform(ref: str, src, dst) -> str:
    """SQL taking `ref` of type `src` to the merged type `dst` BY NAME:
    missing fields (and the fields of a non-struct parent) become NULL,
    differing scalars are cast.  A NULL struct stays NULL, which also
    keeps the result nullable like the inferred types `stack` meets."""
    import pyspark.sql.types as T

    if src == dst:
        return ref
    if isinstance(dst, T.StructType):
        have = (
            {f.name: f.dataType for f in src.fields}
            if isinstance(src, T.StructType)
            else {}
        )
        return "IF({} IS NULL, NULL, named_struct({}))".format(
            ref,
            ", ".join(
                f"'{f.name}', "
                + (
                    _conform(f"{ref}.`{f.name}`", have[f.name], f.dataType)
                    if f.name in have
                    else f"CAST(NULL AS {f.dataType.simpleString()})"
                )
                for f in dst.fields
            )
        )
    return f"CAST({ref} AS {dst.simpleString()})"


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Scale path: JSONL landing zone, explicit schema, splittable —
    1000 executors each parse their own byte ranges."""
    return spark.read.schema(RAW_MEDICATION).json(path)
