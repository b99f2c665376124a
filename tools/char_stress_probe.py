#!/usr/bin/env python
"""Char-mode degenerate-bucket stress for the capped cluster family
(r11 verdict item 6): e9d's worst DOCUMENTED regime — the sf10
char-shingle banding that concentrates 17,727 docs into ONE bucket
(157M pairs through a single reducer; uncapped e2m was killed there
after 25+ min, SCALE.md "Bucket-size distribution") — previously had
only the ×1000 replica-corpus row for e9d/o13b. This runs both capped
pipelines END TO END (prune → ≥2-band verify → connected components →
[o13b: md5 split]) in char-shingle mode (``whitespace=False``) over the
/tmp/sf10 corpus, each with its own hash tier (e9d: cross-engine md5
oracle fold; o13b: production xxhash64), timed cold + calib-stamped,
and merges rows into SF100_PROBE.json.

Usage: python tools/char_stress_probe.py [--sf-dir DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

_existing = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
if "--driver-memory" not in _existing:
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory 48g {_existing}"


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/tmp/sf10"
    if "--sf-dir" in argv:
        sf_dir = argv[argv.index("--sf-dir") + 1]

    from wx20222_bigdata_spark.operators.clusters import (
        _split_by_cluster,
        canonical_clusters,
        connected_components,
        lsh_edges,
    )
    from wx20222_bigdata_spark.operators.dedup import (
        PROD_MAX_BUCKET_SIZE,
        _corpus_with_mutants_spark,
        minhash_band_keys,
    )
    from wx20222_bigdata_spark.session import get_spark
    from tools.calib import calib_stamp

    spark = get_spark(
        app_name="char-stress-probe",
        master="local[32]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "64")),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def capped_labels(bands):
        return connected_components(
            lsh_edges(
                bands, verified=True, max_bucket_size=PROD_MAX_BUCKET_SIZE
            )
        )

    def run_e9d_char():
        # e9d's core with whitespace=False: md5 oracle-fold shingles,
        # char {CHAR_SHINGLE_N}-grams — the bucket distribution that
        # produced the 17,727-doc bucket (oracle tier concentrates the
        # same way; the distribution is a property of the corpus).
        corpus = _corpus_with_mutants_spark(spark, sf_dir)
        return canonical_clusters(
            capped_labels(minhash_band_keys(corpus, whitespace=False))
        )

    def run_o13b_char():
        corpus = _corpus_with_mutants_spark(spark, sf_dir)
        comp = capped_labels(
            minhash_band_keys(corpus, production_hash=True, whitespace=False)
        )
        return _split_by_cluster(corpus, comp)

    out_path = REPO / "SF100_PROBE.json"
    probe = json.load(open(out_path)) if out_path.exists() else {}
    for name, fn in [("e9d_char_sf10", run_e9d_char), ("o13b_char_sf10", run_o13b_char)]:
        t0 = time.perf_counter()
        df = fn()
        n = df.count()
        df.write.format("noop").mode("overwrite").save()
        sec = round(time.perf_counter() - t0, 1)
        stamp = calib_stamp(spark)
        probe[name] = sec
        probe.setdefault("_calib", {})[name] = stamp
        print(
            f"{name}: {sec}s rows={n:,} (calib {stamp['sec']}s "
            f"ratio {stamp['ratio']})",
            flush=True,
        )
        json.dump(probe, open(out_path, "w"), indent=1)


if __name__ == "__main__":
    main()
