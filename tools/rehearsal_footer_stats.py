"""Footer-stats commit-wall rehearsal (VERDICT r14 #5 done-criterion):
time `_file_stats_from_footers` over N and 10N staged files. The
per-file footer reads run in a serial driver loop (a thread pool was
measured 3x slower: the per-file work is GIL-bound Python parsing), so
the wall grows linearly with the file count.

    python tools/rehearsal_footer_stats.py [n_files]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from changedatacapture_reporting_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    spark = get_spark("rehearsal_footer_stats")
    from changedatacapture_reporting_spark.sources.delta_table import (
        _file_stats_from_footers,
    )
    from changedatacapture_reporting_spark import fs

    for nf in (n, 10 * n):
        base = tempfile.mkdtemp(prefix=f"footer_stats_{nf}_")
        df = spark.range(0, nf * 2000).select(
            F.col("id"),
            (F.col("id") * 31 % 997).alias("v"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
        )
        df.repartition(nf).write.mode("overwrite").parquet(base)
        rels = fs.list_data_files(spark, base)
        assert len(rels) == nf, (len(rels), nf)
        eligible = [(f.name, f.dataType) for f in df.schema.fields]
        # warm the page cache so the measurement is the parse path
        _file_stats_from_footers(base, rels, eligible)
        t0 = time.perf_counter()
        out = _file_stats_from_footers(base, rels, eligible)
        wall = time.perf_counter() - t0
        assert out is not None and len(out) == nf
        print(f"{nf:6d} files: {wall*1000:8.1f} ms "
              f"({wall*1e6/nf:6.1f} µs/file)", flush=True)


if __name__ == "__main__":
    main()
