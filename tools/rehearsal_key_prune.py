"""Scale rehearsal for the r15 key-bounds stats pre-prune
(delete/merge discovery, guide §3.2/§6): build a pk-clustered table
with many files, then DELETE a narrow key range with the prune ON vs
OFF (same keys, clone tables) and print kept/pruned counts, wall
times, and the number of parquet files the discovery plan reads. Also
rehearses a 10× file-count step so the prune's cost (one bounds
aggregate + a driver loop over adds) is shown flat-ish while the
unpruned scan grows with the table.

    python tools/rehearsal_key_prune.py [n_files] [rows_per_file]
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from changedatacapture_reporting_spark.session import get_spark  # noqa: E402


def build(spark, path: str, n_files: int, rows_per: int) -> None:
    """n_files single-file commits with disjoint id ranges — batched
    into one DataFrame per 64-file wave to keep build time sane, then
    committed per-file via write_delta on pre-split frames."""
    from changedatacapture_reporting_spark.sources.delta_table import (
        write_delta,
    )

    wave = 64
    for w0 in range(0, n_files, wave):
        n = min(wave, n_files - w0)
        df = spark.range(w0 * rows_per, (w0 + n) * rows_per).select(
            F.col("id").cast("long").alias("id"),
            (F.col("id") * 10).alias("v"),
            (F.col("id") % 7).cast("string").alias("p"),
            (F.col("id") / F.lit(rows_per)).cast("int").alias("_f"),
        )
        # one commit per wave, one FILE per id-range: repartition by the
        # file index so every output file covers a disjoint id range
        write_delta(
            spark,
            df.repartition(n, "_f").sortWithinPartitions("id").drop("_f"),
            path,
        )


def scan_files_in_plan(plan: str) -> int:
    """Parquet split count the discovery plan reads (sum over scans)."""
    # 'number of files read' appears in formatted scan node details
    return sum(
        int(m) for m in re.findall(r"number of files read: (\d+)", plan)
    ) or plan.count("Scan parquet")


def one_delete(spark, path: str, keys, prune: bool) -> dict:
    from changedatacapture_reporting_spark.sources import delta_table as dt
    from changedatacapture_reporting_spark.sources.delta_table import (
        delete_delta,
    )

    min_files = dt._KEY_PRUNE_MIN_FILES
    dt._KEY_PRUNE_MIN_FILES = 8 if prune else 100000000
    probe: dict = {}
    dt._PLAN_PROBE = probe
    try:
        t0 = time.perf_counter()
        res = delete_delta(spark, path, keys, deletion_vectors=True)
        wall = time.perf_counter() - t0
    finally:
        dt._PLAN_PROBE = None
        dt._KEY_PRUNE_MIN_FILES = min_files
    return {
        "wall": wall,
        "rows_deleted": res["rows_deleted"],
        "prune": probe.get("delete_key_prune"),
        "plan": probe.get("delete_discovery_plan", ""),
    }


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    rows_per = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    spark = get_spark("rehearsal_key_prune")
    for nf in (n_files, 10 * n_files):
        base = tempfile.mkdtemp(prefix=f"key_prune_{nf}_")
        a, b = f"{base}/A", f"{base}/B"
        t0 = time.perf_counter()
        build(spark, a, nf, rows_per)
        build(spark, b, nf, rows_per)
        print(f"[{nf} files] built 2 clones in "
              f"{time.perf_counter()-t0:.1f}s", flush=True)
        # narrow GDPR-shaped delete: 5 keys inside ONE file's range
        lo = (nf // 2) * rows_per
        keys = spark.createDataFrame(
            [(lo + i,) for i in range(5)], "id long"
        )
        # cold-path warmup: one unrelated tiny delete per clone so the
        # first timed run does not carry first-call JVM/planning cost
        for p in (a, b):
            one_delete(
                spark, p,
                spark.createDataFrame([(int(-1),)], "id long"),
                prune=False,
            )
        off = one_delete(spark, b, keys, prune=False)
        on = one_delete(spark, a, keys, prune=True)
        assert on["rows_deleted"] == off["rows_deleted"] == 5
        print(
            f"[{nf} files] prune ON : wall={on['wall']:.2f}s "
            f"kept={on['prune']['kept']} pruned={on['prune']['pruned']} "
            f"plan_files={scan_files_in_plan(on['plan'])}",
            flush=True,
        )
        print(
            f"[{nf} files] prune OFF: wall={off['wall']:.2f}s "
            f"kept={off['prune']['kept']} pruned={off['prune']['pruned']} "
            f"plan_files={scan_files_in_plan(off['plan'])}",
            flush=True,
        )
        # keep plan excerpts for plans/r15 at the base size
        if nf == n_files:
            out = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "plans", "r15",
            )
            os.makedirs(out, exist_ok=True)
            with open(f"{out}/delete_key_prune_before.txt", "w") as f:
                f.write(off["plan"])
            with open(f"{out}/delete_key_prune_after.txt", "w") as f:
                f.write(on["plan"])
            print(f"plans written under {out}", flush=True)


if __name__ == "__main__":
    main()
