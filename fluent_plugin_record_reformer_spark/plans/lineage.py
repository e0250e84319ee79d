"""Checkpointed, idempotently-resumable fan-out runs with
per-input lineage + metrics.

North-rule requirement: "the job checkpoints per-partition lineage +
metrics so reruns resume idempotently". The resume unit here is the
INPUT FILE (the natural split of a parquet/Iceberg table):

- A *manifest directory* holds one JSON file per fully-committed input
  (name = md5 of the input path) recording rows read, rows routed per
  sink, and the output batch it landed in. Manifest files are written
  atomically (tmp + rename) AFTER the shard's data is committed, so a
  crash between data-write and manifest-write re-processes that shard
  — and because each shard stages into its own directory that is
  renamed into place, the retry first discards the orphaned staging
  dir: no duplicates, no loss.
- ``checkpointed_fanout`` processes only inputs with no manifest entry,
  one job per input shard. Running it twice is a no-op the second time.

Scale notes: on a real cluster this maps onto Iceberg transactional
appends (commit = snapshot, manifest = snapshot summary properties);
the local implementation uses the same commit ordering with directory
renames. Per-sink row metrics ride the SAME pass as each write via
``DataFrame.observe`` (AggregateMetrics, no extra scan).

Reference anchor: the reference has no persistence at all (fluentd
owns buffering/retry; whole-chunk rescue at core.rb:113-116 simply
drops a failed chunk after logging). Checkpointed resume is part of
the engine's scale contract, not a ported feature.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.route import RouteTable

@dataclass
class ManifestEntry:
    input_path: str
    batch_id: str
    n_rows: int
    per_route: dict[str, int] = field(default_factory=dict)
    wall_s: float = 0.0
    committed_at: float = 0.0


def _entry_name(input_path: str) -> str:
    return hashlib.md5(input_path.encode()).hexdigest() + ".json"


def load_manifest(manifest_dir: str) -> dict[str, ManifestEntry]:
    """All committed inputs (path -> entry)."""
    out: dict[str, ManifestEntry] = {}
    if not os.path.isdir(manifest_dir):
        return out
    for name in os.listdir(manifest_dir):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(manifest_dir, name)) as f:
            d = json.load(f)
        out[d["input_path"]] = ManifestEntry(**d)
    return out


def _write_manifest_atomic(manifest_dir: str, entry: ManifestEntry) -> None:
    os.makedirs(manifest_dir, exist_ok=True)
    final = os.path.join(manifest_dir, _entry_name(entry.input_path))
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(asdict(entry), f)
    os.replace(tmp, final)  # atomic on POSIX


def checkpointed_fanout(
    spark: SparkSession,
    inputs: Sequence[str],
    transform: Callable[[DataFrame], DataFrame],
    routes: RouteTable,
    out_dir: str,
    manifest_dir: str,
    *,
    tag_col: str = "tag",
    drop_unmatched: bool = True,
) -> dict:
    """Run transform+route+write over exactly the not-yet-committed
    inputs; returns {processed, skipped, n_rows, per_route, batches}.

    The COMMIT UNIT IS ONE INPUT: each input shard runs as its own job
    into its own staged batch directory, renamed into place, then its
    manifest entry lands — so a crash mid-run loses at most the
    in-flight shard, and ``transform`` is free to project/aggregate
    however it likes (no provenance column has to survive it; an
    earlier design threaded input_file_name() through, which any
    column-pruning transform silently broke). Per-sink metrics ride
    each write via ``DataFrame.observe`` — no extra scan.

    Unmatched rows are dropped by :meth:`RouteTable.routed`, which
    evaluates the route once per row. A ``route != UNMATCHED`` filter
    here was pushed below ``transform`` with every alias substituted,
    so each row paid the route's regexes twice over a copied-in tag
    rewrite, and the commit stage's generated row loop grew too large
    for the JIT to compile.

    Inputs must be transform-complete shards (e.g. all events of a set
    of conversations): the transform sees one shard at a time.
    """
    done = load_manifest(manifest_dir)
    todo = [p for p in inputs if p not in done]
    skipped = len(inputs) - len(todo)
    route_names = [r.name for r in routes.routes]
    totals_all = {"n_rows": 0, **dict.fromkeys(route_names, 0)}
    batches: list[str] = []

    os.makedirs(out_dir, exist_ok=True)
    for p in todo:
        batch_id = hashlib.md5(p.encode()).hexdigest()[:16]
        staging = os.path.join(out_dir, f"_staging_{batch_id}")
        final_dir = os.path.join(out_dir, f"batch={batch_id}")
        # a crashed earlier attempt leaves an orphaned staging dir (no
        # manifest entry) — discard and redo
        for d in (staging, final_dir):
            if os.path.isdir(d):
                shutil.rmtree(d)

        t0 = time.time()
        routed = routes.routed(
            transform(spark.read.parquet(p)), tag_col, drop_unmatched=drop_unmatched
        )
        obs = Observation(f"lineage_{batch_id}")
        observed = routed.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(F.when(F.col("route") == r, 1).otherwise(0)).alias(r)
                for r in route_names
            ],
        )
        observed.write.mode("overwrite").partitionBy("route").parquet(staging)
        totals = obs.get  # blocks until the write action finished
        os.replace(staging, final_dir)  # data commit point for this shard
        per_route = {r: int(totals[r] or 0) for r in route_names}
        _write_manifest_atomic(
            manifest_dir,
            ManifestEntry(
                input_path=p,
                batch_id=batch_id,
                n_rows=int(totals["n_rows"]),
                per_route=per_route,
                wall_s=round(time.time() - t0, 3),
                committed_at=time.time(),
            ),
        )
        batches.append(batch_id)
        totals_all["n_rows"] += int(totals["n_rows"])
        for r in route_names:
            totals_all[r] += per_route[r]

    return {
        "processed": len(todo),
        "skipped": skipped,
        "n_rows": totals_all["n_rows"],
        "per_route": {r: totals_all[r] for r in route_names},
        "batches": batches,
    }


def read_all_batches(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read every committed batch back (staging dirs excluded by the
    ``batch=`` partition-dir naming)."""
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "batch=*")
    )
