"""Seeded input generator for the benchmark.

Everything the program reads is produced here from ``--seed`` alone, with
the standard library's ``random.Random(seed)`` and pyarrow's parquet
writer, so one seed always gives byte-identical files and another seed
gives files of the same shapes and row counts.  ``write_inputs`` returns a
sha256 over every byte it wrote; the run records it.

Two input sets:

- ``part.parquet``: a TPC-H-shaped ``part`` table (the shape of the
  repository's fixtures) whose ``p_partkey`` column is a seeded bijection
  of ``0..PART_ROWS-1``.  The program derives its ``medications`` table
  from it (``operators/medications.py``), so the dashboard queries and the
  ML notebook both run on ~2,900 cleaned medications, the size the
  reference reports.
- ``lake/NNN-<kind>.json``: the write sequence of the ``lake_ingest``
  workload.  Appends and merges are letter-keyed JSON documents in the
  reference's landing format (``{"A": [{...}], "B": [...]}``) and of its
  feed's size; deletes are a name range ``{"lo": ..., "hi": ...}``.  ``LakeModel``
  replays the same files in plain Python and gives the table every read
  must return.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import os
import random
import re
import string

PART_ROWS = 3000

_ADJ = [
    "almond", "blue", "coral", "dark", "frosted", "green", "ivory", "khaki",
    "lemon", "misty", "navy", "olive", "pale", "red", "smoke", "white",
]
_NOUN = [
    "bolt", "gear", "nut", "pipe", "ring", "rod", "screw", "spring",
    "valve", "washer", "widget", "clip",
]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def part_rows(seed: int) -> list[dict]:
    """TPC-H-shaped ``part`` rows; only values depend on the seed."""
    rng = random.Random(f"part:{seed}")
    keys = list(range(PART_ROWS))
    rng.shuffle(keys)
    return [
        {
            "p_partkey": key,
            "p_name": f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}",
            "p_brand": f"Brand#{rng.randint(1, 25)}",
            "p_type": rng.choice(_TYPES),
            "p_size": rng.randint(1, 50),
            "p_retailprice": round(900 + rng.randint(0, 20000) / 10, 1),
        }
        for key in keys
    ]


# -- lake_ingest write sequence ---------------------------------------------

#: Records in one landing document: the reference's feed of 2,908
#: medications, names spread over the 26 letters (about 112 a letter).
FEED_ROWS = 2908
#: Live rows (a contiguous name range) a delete withdraws.  Assumed: the
#: reference only ever lands its feed whole.
DELETE_ROWS = 20
#: Write operations generated per seed: the first append and 6 whole
#: cycles.  A run stops early if it uses them all; a 12 s run uses 7-10.
LAKE_OPS = 1 + 6 * 3
#: After the first append, writes come in cycles holding one of each kind
#: in a seeded order, so every run sees the same mix.  Assumed, not
#: measured: the reference has no incremental writes.
_CYCLE = ("append", "merge", "delete")
CYCLE_LEN = len(_CYCLE)

_FORMS = ["tablet", "capsule", "syrup", "injection", "cream", "drops", "powder", "spray"]
_CLASSES = [
    "antibiotic", "analgesic", "antiviral", "cardiology", "dermatology",
    "endocrinology", "gastro", "neurology", "oncology", "psychiatry",
    "pulmonology", "rheumatology",
]

#: Columns of the cleaned table, in the order ``pipeline.clean`` emits.
CLEAN_COLUMNS = [
    "name", "first_letter", "lab_name", "lab_address", "lab_tel", "lab_web",
    "therapeutic_class", "pharmacological_class", "form", "generic",
    "reference_rate", "price", "refundable", "price_category",
]


def _rate(rng: random.Random) -> str:
    """``reference_rate`` text; about one in ten has no valid price."""
    roll = rng.random()
    if roll < 0.05:
        return "N/A"
    if roll < 0.10:
        return "0 DA"
    return f"{rng.randint(20, 1450)} DA"


def _refundable(rng: random.Random):
    roll = rng.random()
    return True if roll < 0.72 else (False if roll < 0.86 else None)


def _record(rng: random.Random, name: str) -> dict:
    lab = rng.randint(1, 40)
    therapeutic = rng.choice(_CLASSES)
    return {
        "name": name,
        "lab": {
            "name": f"Lab {lab:02d}",
            "address": f"{lab} rue Didouche, Alger",
            "tel": f"021-{lab:04d}",
            "web": None if lab % 5 == 0 else f"www.lab{lab:02d}.dz",
        },
        "class": {
            "therapeutic": None if rng.random() < 0.05 else therapeutic,
            "pharmacological": f"{therapeutic}-{rng.randint(1, 6)}",
        },
        "form": None if rng.random() < 0.05 else rng.choice(_FORMS),
        "generic": rng.choice(["", None, name.split()[0].lower()]),
        "reference_rate": _rate(rng),
        "refundable": _refundable(rng),
    }


def _correct(rng: random.Random, rec: dict) -> dict:
    """A price and coverage correction of one landed record."""
    return dict(rec, reference_rate=_rate(rng), refundable=_refundable(rng))


def _letter_keyed(records: list[dict]) -> dict:
    doc: dict[str, list[dict]] = {}
    for rec in records:
        doc.setdefault(rec["name"][0].upper(), []).append(rec)
    return doc


def lake_ops(seed: int) -> list[dict]:
    """The seeded write sequence: op 0 creates the table, later ops follow
    seeded permutations of ``_CYCLE``.  Appends land a feed of
    ``FEED_ROWS`` new products; merges re-land ``FEED_ROWS`` products, live
    ones with price and coverage corrections (new ones too, while fewer
    are live); both are letter-keyed documents in
    the reference's landing format.  Each op is ``{"kind", "body"}``; the
    body is what lands in the op's file."""
    rng = random.Random(f"lake:{seed}")
    next_id = 0
    live: dict[str, dict] = {}
    ops = []

    def new_names(n: int) -> list[str]:
        nonlocal next_id
        names = []
        for _ in range(n):
            names.append(
                f"{rng.choice(string.ascii_uppercase)}{rng.choice(_ADJ)} "
                f"{rng.choice(_NOUN)} {next_id:05d}"
            )
            next_id += 1
        return names

    kinds = ["append"]
    while len(kinds) < LAKE_OPS:
        cycle = list(_CYCLE)
        rng.shuffle(cycle)
        kinds.extend(cycle)
    for kind in kinds[:LAKE_OPS]:
        if kind == "append":
            records = [_record(rng, n) for n in new_names(FEED_ROWS)]
            live.update((r["name"], r) for r in records)
            ops.append({"kind": "append", "body": _letter_keyed(records)})
        elif kind == "merge":
            k = min(FEED_ROWS, len(live))
            records = [_correct(rng, live[n]) for n in rng.sample(sorted(live), k)]
            records += [_record(rng, n) for n in new_names(FEED_ROWS - k)]
            live.update((r["name"], r) for r in records)
            ops.append({"kind": "merge", "body": _letter_keyed(records)})
        else:
            ordered = sorted(live)
            start = rng.randrange(len(ordered) - DELETE_ROWS)
            lo, hi = ordered[start], ordered[start + DELETE_ROWS - 1]
            for name in ordered[start:start + DELETE_ROWS]:
                del live[name]
            ops.append({"kind": "delete", "body": {"lo": lo, "hi": hi}})
    return ops


_DIGITS = re.compile(r"(\d+)")


def clean_row(rec: dict, first_letter: str) -> tuple | None:
    """The cleaned row ``flatten_and_extract`` + ``clean`` keep for one
    landing record, or None when its price is missing or zero."""
    m = _DIGITS.search(rec["reference_rate"] or "")
    price = int(m.group(1)) if m else None
    if price is None or price > 2**31 - 1 or price <= 0:
        return None
    category = "Low" if price <= 100 else ("Medium" if price <= 500 else "High")
    lab, cls = rec["lab"], rec["class"]
    return (
        rec["name"], first_letter, lab["name"], lab["address"], lab["tel"],
        lab["web"], cls["therapeutic"], cls["pharmacological"], rec["form"],
        rec["generic"], rec["reference_rate"], price, rec["refundable"],
        category,
    )


def doc_rows(body: dict) -> list[tuple]:
    """Cleaned rows of a letter-keyed landing document."""
    pairs = [(r, letter) for letter, recs in body.items() for r in recs]
    return [row for row in (clean_row(r, k) for r, k in pairs) if row is not None]


def row_bytes(row: tuple) -> int:
    """Logical size of a cleaned row: its values as UTF-8 text.  The
    denominator of ``write_amp``."""
    return sum(len(str(v).encode()) for v in row if v is not None)


class LakeModel:
    """Plain-Python replay of the lake write sequence: the table every
    ``lake_ingest`` read must return, by name."""

    def __init__(self) -> None:
        self.rows: dict[str, tuple] = {}
        self.user_bytes = 0

    def apply(self, kind: str, body: dict) -> None:
        if kind == "delete":
            for name in [n for n in self.rows if body["lo"] <= n <= body["hi"]]:
                del self.rows[name]
            return
        # appends add new names; a merge updates or inserts by name
        for row in doc_rows(body):
            self.rows[row[0]] = row
            self.user_bytes += row_bytes(row)

    def q02(self, limit: int = 12) -> list[tuple]:
        """``operators.dashboard._q02_agg(min_drug_count=1)`` over the
        model table: (disease_area, drug_count, avg, min, max) rows."""
        groups: dict[str, list[int]] = {}
        for row in self.rows.values():
            if row[6] is not None:
                groups.setdefault(row[6], []).append(row[11])
        out = []
        for area, prices in groups.items():
            avg = float(sum(prices)) / len(prices)
            rounded = float(
                decimal.Decimal(avg).quantize(0, rounding=decimal.ROUND_HALF_UP)
            )
            out.append((area, len(prices), rounded, float(min(prices)), float(max(prices))))
        out.sort(key=lambda r: (-r[2], r[0]))
        return out[:limit]


# -- files --------------------------------------------------------------------


def write_inputs(root: str, seed: int, lake: bool = True) -> str:
    """Write ``part.parquet`` and, with ``lake``, the lake op documents
    under ``root``; return the sha256 of every byte written, in a fixed
    file order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()),
        ("p_brand", pa.string()), ("p_type", pa.string()),
        ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ])
    os.makedirs(os.path.join(root, "lake"), exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(part_rows(seed), schema=schema),
        os.path.join(root, "part.parquet"),
    )
    for i, op in enumerate(lake_ops(seed) if lake else []):
        with open(os.path.join(root, "lake", f"{i:03d}-{op['kind']}.json"), "w") as f:
            json.dump(op["body"], f, sort_keys=True)
    return inputs_digest(root)


def read_op(path: str):
    """The body of one lake op file, as ``lake_ops`` generated it."""
    with open(path) as f:
        return json.load(f)


def lake_files(root: str) -> list[tuple[str, str]]:
    """(kind, path) of each lake op file, in sequence order."""
    lake = os.path.join(root, "lake")
    return [
        (name[4:].split(".")[0], os.path.join(lake, name))
        for name in sorted(os.listdir(lake))
    ]


def inputs_digest(root: str) -> str:
    digest = hashlib.sha256()
    names = ["part.parquet"] + [
        os.path.join("lake", n) for n in sorted(os.listdir(os.path.join(root, "lake")))
    ]
    for name in names:
        digest.update(name.encode())
        with open(os.path.join(root, name), "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()
