"""Stateful-streaming scale probe: drain time + state-store evidence.

    python tools/stream_scale_probe.py [sf_dir] [--probe NAME] [--batches N]

Probes (both transformWithStateInPandas under the RocksDB provider):

- ``simhash_bands`` (default): the ingest-time SimHash band registry
  (streaming/stateful_v2.streaming_simhash_band_registry). State is one
  row per DISTINCT (band_idx, band_value) — O(corpus bands), never
  O(stream volume).
- ``user_profiles``: the v2 per-user profile processor
  (streaming_user_profiles_v2) — ValueState + bounded ListState per
  user; state is O(distinct users).

``--batches N`` (default 1) stages the source table into N row-sliced
part files in a temp dir and drains with ``maxFilesPerTrigger=1`` —
AvailableNow honors it, so the run is a genuine MULTI-BATCH incremental
drain and the per-batch ``stateOperators`` rows show how state grows
ACROSS micro-batch commits (rows added/updated, RocksDB SST bytes after
each checkpoint) — the thing a single-batch drain cannot show and the
reason RocksDB is the provider at all (r9 verdict item 6).

Prints ONE JSON line: drain wall, output rows, and per-batch state rows
/ memory / RocksDB SST bytes. tools/chain.py combines the probe
matrix into BENCH_stream.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SOURCE_TABLE = {"simhash_bands": "documents", "user_profiles": "events"}


def stage_split(src_file: str, n: int, stem: str) -> str:
    """Slice one parquet table into ``n`` row-contiguous part files in a
    fresh temp dir (pyarrow — preserves physical schema including the
    events table's nanosecond timestamps) and return the dir. Row order
    within and across slices is the source order, so the staged stream
    is the same data arriving in ``n`` ordered chunks."""
    import pyarrow.parquet as pq

    dest = tempfile.mkdtemp(prefix=f"stream_probe_{stem}_")
    t = pq.read_table(src_file)
    step = -(-t.num_rows // n)
    for i in range(n):
        piece = t.slice(i * step, step)
        if piece.num_rows == 0:
            break
        pq.write_table(piece, os.path.join(dest, f"{stem}-{i:03d}.parquet"))
    return dest


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    probe, batches = "simhash_bands", 1
    it = iter(args)
    for a in it:
        if a == "--probe":
            probe = next(it)
        elif a == "--batches":
            batches = int(next(it))
        else:
            sf_dir = a
    if probe not in SOURCE_TABLE:
        sys.exit(f"--probe must be one of {sorted(SOURCE_TABLE)}")

    from healthcare_data_warehouse_spark.session import get_spark
    from healthcare_data_warehouse_spark.streaming.pipelines import (
        run_stream_to_memory,
    )
    from healthcare_data_warehouse_spark.streaming.stateful_v2 import (
        _PROVIDER_CONF,
        streaming_simhash_band_registry,
        streaming_user_profiles_v2,
        tws_session,
    )

    spark = get_spark("stream-scale-probe")

    table = SOURCE_TABLE[probe]
    staged = None
    src_dir, glob, mfpt = sf_dir, f"{table}.parquet", None
    if batches > 1:
        staged = stage_split(
            os.path.join(sf_dir, f"{table}.parquet"), batches, table)
        src_dir, glob, mfpt = staged, f"{table}-*.parquet", 1

    if probe == "simhash_bands":
        plan = streaming_simhash_band_registry(
            spark, src_dir, path_glob=glob, max_files_per_trigger=mfpt)
    else:
        plan = streaming_user_profiles_v2(
            spark, src_dir, path_glob=glob, max_files_per_trigger=mfpt)

    progress: list = []
    t0 = time.time()
    try:
        with tws_session(spark):
            provider = spark.conf.get(_PROVIDER_CONF)
            out = run_stream_to_memory(
                plan, f"probe_{probe}", output_mode="update",
                timeout_s=3600, progress_sink=progress)
            n_rows = out.count()
        wall = time.time() - t0
    finally:
        if staged:
            shutil.rmtree(staged, ignore_errors=True)

    rows = []
    for p in progress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        for so in d.get("stateOperators", []):
            cm = so.get("customMetrics", {})
            rows.append({
                "batch_id": d.get("batchId"),
                "input_rows": d.get("numInputRows"),
                "batch_duration_ms": d.get("batchDuration"),
                "state_rows_total": so.get("numRowsTotal"),
                "state_rows_updated": so.get("numRowsUpdated"),
                "state_memory_bytes": so.get("memoryUsedBytes"),
                "rocksdb_sst_bytes": cm.get("rocksdbSstFileSize"),
                "rocksdb_total_mem_bytes": cm.get("rocksdbTotalMemoryUsage"),
            })
    rows.sort(key=lambda r: (r["batch_id"] is None, r["batch_id"]))
    print(json.dumps({
        "probe": probe,
        "sf_dir": sf_dir,
        "provider": provider.rsplit(".", 1)[-1],
        "requested_batches": batches,
        "drain_wall_s": round(wall, 1),
        "output_rows": n_rows,
        "n_batches": len(rows),
        "final_state_rows": rows[-1]["state_rows_total"] if rows else None,
        "final_state_memory_bytes":
            rows[-1]["state_memory_bytes"] if rows else None,
        "final_rocksdb_sst_bytes":
            rows[-1]["rocksdb_sst_bytes"] if rows else None,
        "batches": rows,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
