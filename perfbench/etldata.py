"""Seeded nested-document generator for the ``etl_pipeline`` workload.

Follows the FIXTURES.md conventions for all 13 ``plans.entities.ENTITIES``:
24-hex ``_id``s, every other field randomly absent, arrays that are
missing, empty or multi-element, a few malformed documents (null ``_id``)
for the quarantine path, and a day-2 delta that mutates about half of the
existing ids and adds about 10% new ids.

The documents are written straight to parquet with pyarrow (no Spark), and
the expected warehouse contents after ``migrate`` + ``daily_update`` are
computed here, from the documents alone, for the output check.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, StringType, StructType,
    TimestampType,
)

from airflow_pipelines_from_mongo_to_postgres_spark.plans.entities import (
    ENTITIES, topo_order,
)

#: documents per entity on day 1
SIZES = {"tiny": 40, "bench": 5000}

ABSENT_RATE = 0.2
NULL_ID_RATE = 0.005          # malformed docs, diverted to quarantine
MUTATE_SHARE = 0.5            # day-2: share of day-1 ids re-sent mutated
NEW_SHARE = 0.1               # day-2: new ids, as a share of day 1
PRODUCT_VOCAB = 800           # loanapplications.products values
LOAN_CUTOFF = datetime(2022, 10, 5, tzinfo=timezone.utc)  # the $match bound

#: the field the check compares per entity (conform keeps its name);
#: mutable on every upsert entity, frozen on the three insert-only ones
PROBES = {
    "users": "deleted", "organizations": "deleted", "trades": "deleted",
    "agribusinesses": "deleted", "invoices": "deleted",
    "cashflow_events": "deleted", "cashflow_event_goals": "deleted",
    "accounts": "deleted", "loanapplications": "deleted",
    "mlscore": "score", "loanoffers": "financedAmount",
    "loanproducts": "totalBuyingPrice", "loandeals": "minOffer",
}

#: foreign-key-ish string fields drawn from a parent entity's ids
_REFS = {
    "createdBy": "users", "owner": "users", "orgUser": "users",
    "beneficiaryId": "users", "organization": "organizations",
    "dealId": "loandeals", "loanId": "loanapplications",
}

_WORDS = ["alpha", "beta", "gamma", "delta", "omega", "kappa", "sigma",
          "zeta", "harvest", "maize", "coffee", "cocoa", "sorghum"]
_EPOCH = datetime(2022, 6, 1, tzinfo=timezone.utc)


def arrow_type(dt) -> pa.DataType:
    if isinstance(dt, StructType):
        return pa.struct([pa.field(f.name, arrow_type(f.dataType))
                          for f in dt.fields])
    if isinstance(dt, ArrayType):
        return pa.list_(arrow_type(dt.elementType))
    return {StringType: pa.string(), DoubleType: pa.float64(),
            IntegerType: pa.int32(), BooleanType: pa.bool_(),
            TimestampType: pa.timestamp("us", tz="UTC")}[type(dt)]


class _Gen:
    """Draws field values for one entity; ``ids`` holds the already
    generated day-1 ids of every entity, for reference fields."""

    def __init__(self, rng: random.Random, ids: dict[str, list[str]]):
        self.rng = rng
        self.ids = ids

    def hexid(self) -> str:
        return f"{self.rng.getrandbits(96):024x}"

    def value(self, name: str, dt):
        rng = self.rng
        if isinstance(dt, StructType):
            return {f.name: (None if rng.random() < ABSENT_RATE
                             else self.value(f.name, f.dataType))
                    for f in dt.fields}
        if isinstance(dt, ArrayType):
            n = rng.choice((0, 1, 1, 2, 3))
            if name == "products" and isinstance(dt.elementType, StringType):
                return [f"prod-{rng.randrange(PRODUCT_VOCAB):04d}"
                        for _ in range(n)]
            return [self.value(name, dt.elementType) for _ in range(n)]
        if isinstance(dt, BooleanType):
            return rng.random() < 0.3
        if isinstance(dt, DoubleType):
            return round(rng.uniform(1, 5000), 2)
        if isinstance(dt, IntegerType):
            return rng.randint(1, 60)
        if isinstance(dt, TimestampType):
            return _EPOCH + timedelta(seconds=rng.randrange(300 * 86400))
        parent = _REFS.get(name)
        if parent and self.ids.get(parent):
            return rng.choice(self.ids[parent])
        return f"{rng.choice(_WORDS)}-{rng.randrange(10_000)}"

    def doc(self, schema: StructType) -> dict:
        out = {}
        for f in schema.fields:
            if f.name == "_id":
                out["_id"] = None if self.rng.random() < NULL_ID_RATE \
                    else self.hexid()
            elif self.rng.random() < ABSENT_RATE:
                out[f.name] = None
            else:
                out[f.name] = self.value(f.name, f.dataType)
        return out


def _mutate(gen: _Gen, entity: str, doc: dict) -> dict:
    """Day-2 version of a day-1 document: each field re-drawn with
    probability 1/2, the probe always changed, the natural key kept."""
    spec = ENTITIES[entity]
    out = dict(doc)
    for f in spec.schema.fields:
        if f.name in ("_id", spec.merge_key):
            continue
        if gen.rng.random() < 0.5:
            out[f.name] = gen.value(f.name, f.dataType)
    probe = PROBES[entity]
    old = doc.get(probe)
    if isinstance(spec.schema[probe].dataType, BooleanType):
        out[probe] = not bool(old)
    else:
        out[probe] = round((old or 0.0) + 1.5, 2)
    return out


def _keys(entity: str, doc: dict) -> list[str]:
    """Natural keys a document contributes after the reference pipeline:
    its ``_id``, or for loanapplications ($match dateCreated > cutoff,
    then $unwind products) one key per product."""
    if ENTITIES[entity].merge_key == "_id":
        return [doc["_id"]] if doc["_id"] is not None else []
    created = doc.get("dateCreated")
    if created is None or created <= LOAN_CUTOFF:
        return []
    return [p for p in (doc.get("products") or []) if p is not None]


def _probe_out(entity: str, value):
    if isinstance(ENTITIES[entity].schema[PROBES[entity]].dataType,
                  BooleanType):
        return bool(value)            # conform: missing boolean -> False
    return value


def expected_table(entity: str, day1: list[dict], day2: list[dict]) -> dict:
    """The warehouse table the reference semantics produce: one row per
    distinct natural key; ids 1..n dense, day-1 keys numbered in key order
    and new day-2 keys continuing from there, also in key order; the
    probe column updated on day 2 where it is mutable and frozen where the
    entity is insert-only. A probe is only expected where exactly one
    document per batch carries the key."""
    spec = ENTITIES[entity]

    def by_key(docs):
        seen: dict[str, list] = {}
        for d in docs:
            for k in _keys(entity, d):
                seen.setdefault(k, []).append(d.get(PROBES[entity]))
        return seen

    k1, k2 = by_key(day1), by_key(day2)
    old = sorted(k1)
    new = sorted(set(k2) - set(k1))
    ids = {k: i + 1 for i, k in enumerate(old + new)}
    rows = {}
    for k, i in ids.items():
        src = k1 if (k in k1 and (spec.insert_only or k not in k2)) else k2
        vals = src[k]
        probe = _probe_out(entity, vals[0]) if len(vals) == 1 else "?"
        if k in k1 and len(k1[k]) > 1:
            probe = "?"
        rows[k] = [i, probe]
    return {"key": spec.merge_key, "probe": PROBES[entity],
            "rows": rows}


def generate(root: Path, seed: int, size: str) -> dict:
    """Write day-1 and day-2 parquet exports under ``root`` and return the
    manifest (document counts and the expected tables)."""
    n = SIZES[size]
    ids: dict[str, list[str]] = {}
    manifest = {"seed": seed, "size": size, "docs_per_entity": n,
                "docs": {}, "expected": {}}
    for entity in topo_order():
        spec = ENTITIES[entity]
        gen = _Gen(random.Random(f"{seed}:{entity}"), ids)
        day1 = [gen.doc(spec.schema) for _ in range(n)]
        ids[entity] = [d["_id"] for d in day1 if d["_id"] is not None]
        old = [d for d in day1 if d["_id"] is not None]
        day2 = [_mutate(gen, entity, d)
                for d in gen.rng.sample(old, int(len(old) * MUTATE_SHARE))]
        day2 += [gen.doc(spec.schema) for _ in range(int(n * NEW_SHARE))]
        gen.rng.shuffle(day2)
        schema = pa.schema([pa.field(f.name, arrow_type(f.dataType))
                            for f in spec.schema.fields])
        for day, docs in (("day1", day1), ("day2", day2)):
            out = root / day / f"{entity}.parquet"
            out.parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(docs, schema=schema), out)
        manifest["docs"][entity] = [len(day1), len(day2)]
        manifest["expected"][entity] = expected_table(entity, day1, day2)
    (root / "manifest.json").write_text(json.dumps(manifest))
    return manifest
