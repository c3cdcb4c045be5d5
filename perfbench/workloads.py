"""Workload corpora: generated once per (workload, seed, datagen.py hash).

Each workload is a `datagen.generate` shape. Its conversations are split into
a base delivery (the batch run) and a later delivery (the fold): a seeded
share of the conversations is held back, and a further share of the base
conversations is delivered again, unchanged, with it. The engine reads both
deliveries as transcripts parquet tables; the labels stay with the benchmark.

Corpora are cached under `perfbench/.cache/`, so generation and the Arrow
write never fall inside a timed phase and a repeated seed costs nothing.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
DATAGEN = os.path.join(REPO, "entity_resolver_spark", "datagen.py")

# Share of conversations held back for the fold, and share of the base
# conversations delivered a second time with them.
HELD_BACK = 0.10
REDELIVERED = 0.02
INPUT_FILES = 8


@dataclass(frozen=True)
class Workload:
    name: str
    entities: int
    convs_per_entity: tuple[int, int]
    turns_per_conv: tuple[int, int]


# Why each shape was chosen is recorded in BENCHMARK.json and NOTES.md.
WORKLOADS = {
    w.name: w
    for w in (
        # few entities, many short conversations each: hot blocks, pair volume
        Workload("er_dense", entities=50, convs_per_entity=(30, 60), turns_per_conv=(2, 6)),
        # few conversations per entity, many turns each: per-turn work
        Workload("er_longtext", entities=225, convs_per_entity=(2, 3), turns_per_conv=(40, 80)),
    )
}


def datagen_hash() -> str:
    with open(DATAGEN, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _write_parquet(pdf, path: str) -> None:
    """Write `pdf` as INPUT_FILES parquet files, so the engine's first scan
    has one task per core or more."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    n = table.num_rows
    for i in range(INPUT_FILES):
        lo, hi = i * n // INPUT_FILES, (i + 1) * n // INPUT_FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:02d}.parquet"))


def corpus(name: str, seed: int, scale: float = 1.0) -> str:
    """Path of the cached corpus for (workload, seed, scale), generating it
    if absent. The directory holds `base/` and `delta/` transcripts tables,
    `labels.parquet` and `meta.json`."""
    w = WORKLOADS[name]
    entities = max(8, int(round(w.entities * scale)))
    key = f"{name}-n{entities}-s{seed}-{datagen_hash()}"
    out = os.path.join(CACHE, key)
    if os.path.exists(os.path.join(out, "meta.json")):
        return out

    from entity_resolver_spark import datagen

    data = datagen.generate(
        n_entities=entities,
        convs_per_entity=w.convs_per_entity,
        turns_per_conv=w.turns_per_conv,
        seed=seed,
    )
    tr = data["transcripts"]
    # Parquet TIMESTAMP(NANOS) is unreadable by Spark; UTC micros map to
    # TimestampType, the schema datagen.to_spark gives the same column.
    tr["ts"] = tr["ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    conv_ids = sorted(tr["conv_id"].unique())
    rng = random.Random(seed)
    held = set(rng.sample(conv_ids, max(1, int(len(conv_ids) * HELD_BACK))))
    base_ids = [c for c in conv_ids if c not in held]
    again = set(rng.sample(base_ids, max(1, int(len(conv_ids) * REDELIVERED))))

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write_parquet(tr[~tr["conv_id"].isin(held)], os.path.join(tmp, "base"))
    _write_parquet(tr[tr["conv_id"].isin(held | again)], os.path.join(tmp, "delta"))
    data["labeled_pairs"].to_parquet(os.path.join(tmp, "labels.parquet"), index=False)
    meta = {
        "workload": name,
        "seed": seed,
        "entities": entities,
        "conversations": len(conv_ids),
        "turns": len(tr),
        "held_back": len(held),
        "redelivered": len(again),
        "datagen_sha": datagen_hash(),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
