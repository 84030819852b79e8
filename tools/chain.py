#!/usr/bin/env python
"""chain.py — one-session re-record of the scale curve: verifies each
regenerated fixture's content md5s against its manifest, benches every
fixture on the CURRENT HEAD back-to-back, records the streaming matrix
(2 stateful probes x 2 scales x 4 batches), then generates + benches
sf100 (disk-aware: sf1/sf3/sf30 are deleted first) and captures the
sf100 bigram audit. Each step appends to OUT_DIR/chain.log, child stderr
goes to OUT_DIR/chain.err (gitignored), and the BENCH JSONs land next to
the repo root artifacts.

    python tools/chain.py OUT_DIR [--skip-sf100]

OUT_DIR is relative to the repo root, e.g. ``.r12``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
TD = ".testdata"


class Chain:
    def __init__(self, out_dir: str) -> None:
        self.out = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.log_fh = open(os.path.join(out_dir, "chain.log"), "a",
                           buffering=1)

    def log(self, msg: str) -> None:
        line = f"[{time.strftime('%H:%M:%S')}] {msg}"
        print(line, flush=True)
        self.log_fh.write(line + "\n")

    def run(self, cmd: list[str], env: dict | None = None,
            out: str | None = None) -> None:
        e = dict(os.environ)
        if env:
            e.update(env)
        with open(os.path.join(self.out, "chain.err"), "a") as errfh:
            res = subprocess.run(cmd, env=e, stdout=subprocess.PIPE,
                                 stderr=errfh, text=True)
        if res.returncode != 0:
            self.log(f"FAILED ({res.returncode}): {' '.join(cmd)}")
            sys.exit(res.returncode)
        if out:
            last = res.stdout.strip().splitlines()[-1]
            with open(out, "w") as fh:
                fh.write(last + "\n")

    def check_fixture(self, sf_dir: str) -> None:
        """Abort unless every table md5 in the fixture's
        _scale_manifest.json matches the bytes on disk: a curve point is
        only evidence about the fixture its manifest names."""
        man_path = os.path.join(sf_dir, "_scale_manifest.json")
        name = os.path.basename(sf_dir.rstrip("/"))
        if not os.path.exists(man_path):
            verdict = "no manifest (unscaled fixture)"
        else:
            with open(man_path) as fh:
                want = json.load(fh)["content_md5"]
            bad = [t for t, md5 in want.items()
                   if _md5(os.path.join(sf_dir, t)) != md5]
            verdict = "OK" if not bad else f"MISMATCH {bad}"
        with open(os.path.join(self.out, "fixture_md5_check.txt"), "a") as fh:
            fh.write(f"{name} {verdict}\n")
        self.log(f"fixture {name}: {verdict}")
        if verdict.startswith("MISMATCH"):
            sys.exit(1)

    def bench(self, sf_dir: str, out: str, mem: str) -> None:
        self.check_fixture(sf_dir)
        self.log(f"bench {sf_dir} -> {out} (mem={mem})")
        self.run([sys.executable, "bench.py"],
                 env={"SPARK_GRAFT_SF_DIR": os.path.abspath(sf_dir),
                      "SPARK_GRAFT_DRIVER_MEM": mem},
                 out=out)
        with open(out) as fh:
            d = json.load(fh)
        p = d["provenance"]
        self.log(f"  {out}: total={d['value']}s n={d['n_queries']} "
                 f"errors={d['errors']} sha={p['engine_git_sha']} "
                 f"canary={p['drift_canary']['sec']} "
                 f"canary_shuffle={p['drift_canary_shuffle']['sec']}")

    def stream_probe(self, sf: str, probe: str, mem: str) -> None:
        self.log(f"stream probe {probe} {TD}/{sf} (4 batches)")
        self.run([sys.executable, "tools/stream_scale_probe.py",
                  f"{TD}/{sf}", "--probe", probe, "--batches", "4"],
                 env={"SPARK_GRAFT_DRIVER_MEM": mem},
                 out=self.stream_path(probe, sf))

    def stream_path(self, probe: str, sf: str) -> str:
        return os.path.join(self.out, f"stream_{probe}_{sf}.json")


def _md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 24), b""):
            h.update(chunk)
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--skip-sf100", action="store_true")
    args = ap.parse_args()
    from healthcare_data_warehouse_spark.config import DEFAULT_SF_DIR

    os.chdir(REPO)
    c = Chain(args.out_dir)

    c.bench(DEFAULT_SF_DIR, "BENCH_sf0.1.json", "8g")
    c.bench(f"{TD}/sf1", "BENCH_sf1.json", "16g")
    c.bench(f"{TD}/sf3", "BENCH_sf3.json", "16g")
    c.bench(f"{TD}/sf10", "BENCH_sf10.json", "24g")
    c.bench(f"{TD}/sf30", "BENCH_sf30.json", "48g")

    probes = ("simhash_bands", "user_profiles")
    for p in probes:
        c.stream_probe("sf30", p, "48g")

    c.bench(f"{TD}/sf60", "BENCH_sf60.json", "48g")
    for p in probes:
        c.stream_probe("sf60", p, "48g")

    points = {}
    for p in probes:
        for sf in ("sf30", "sf60"):
            with open(c.stream_path(p, sf)) as fh:
                points[f"{p}/{sf}"] = json.load(fh)
    sha = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                         capture_output=True, text=True).stdout.strip()
    with open("BENCH_stream.json", "w") as fh:
        json.dump({"metric": "stateful_stream_drain_matrix", "unit": "sec",
                   "points": points,
                   "provenance": {"engine_git_sha": sha,
                                  "tool": "tools/stream_scale_probe.py",
                                  "batches_per_drain": 4,
                                  "provider": "RocksDBStateStoreProvider"}},
                  fh, indent=1)
    c.log("BENCH_stream.json written (2 probes x 2 scales x 4 batches)")

    if args.skip_sf100:
        c.log("CHAIN DONE (sf100 skipped)")
        return

    for d in (f"{TD}/sf1", f"{TD}/sf3", f"{TD}/sf30"):
        shutil.rmtree(d, ignore_errors=True)  # sf100 disk+cache headroom
    c.log("gen sf100 (sf10 x 10)")
    c.run([sys.executable, "tools/make_scale_data.py", f"{TD}/sf10",
           f"{TD}/sf100", "10"])
    shutil.rmtree(f"{TD}/sf60", ignore_errors=True)
    c.bench(f"{TD}/sf100", "BENCH_sf100.json", "64g")

    c.log("audit sf100 (quality_bigram_lm + canary)")
    with open(os.path.join(c.out, "audit_sf100_bigram.txt"), "w") as fh:
        res = subprocess.run(
            [sys.executable, "tools/shuffle_audit.py", f"{TD}/sf100",
             "quality_bigram_lm", "agg_by_agegroup"],
            env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "64g"},
            stdout=fh, stderr=subprocess.STDOUT)
    c.log(f"audit exit={res.returncode}")
    c.log("CHAIN DONE")


if __name__ == "__main__":
    main()
