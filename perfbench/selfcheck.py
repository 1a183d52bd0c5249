"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py            # generator + oracle checks, no Spark
    python3 perfbench/selfcheck.py --smoke    # plus a short run of every workload

1. Generator determinism: the same seed writes byte-identical files, and
   another seed writes different ones.
2. Oracle sensitivity: the oracle accepts its own expected sink and
   refuses one with a row dropped or a value changed, and its watermarks
   and vector truth agree with the generator.
3. Smoke (``--smoke``): every workload runs for a few seconds on a small
   seed, untraced and then traced, and the program's answers agree with
   the oracle (the run exits 0 and reports ``correct: true``); the traced
   run reports its overhead against the untraced one.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402

SMALL_STREAM = {
    "n_tables": 3, "table_zipf": 1.0, "keys_per_table": 50, "key_zipf": 1.1,
    "op_mix": [0.2, 0.7, 0.1], "n_windows": 3, "events_per_window": 80, "max_txn_events": 4,
}
SMALL_VECTORS = {
    "dim": 16, "corpus": 200, "clusters": 8, "cluster_noise": 0.15, "batch": 40,
    "planted_corpus_frac": 0.2, "planted_batch_frac": 0.05, "dup_noise": 0.02,
    "queries": 4, "n_batches": 2,
}


def check(ok: bool, msg: str) -> None:
    if not ok:
        raise SystemExit(f"FAIL {msg}")


def digests(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_determinism(tmp: str) -> None:
    runs = {}
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = os.path.join(tmp, tag)
        gen.write_cdc(seed, SMALL_STREAM, d)
        gen.write_embeddings(seed, SMALL_VECTORS, d)
        runs[tag] = digests(d)
    check(runs["a"] == runs["b"], "generator: the same seed wrote different files")
    check(runs["a"] != runs["c"], "generator: another seed wrote the same files")
    print(f"ok  generator: {len(runs['a'])} files byte-identical for one seed, "
          "different for another")


def check_oracle(tmp: str) -> None:
    windows = gen.write_cdc(7, SMALL_STREAM, os.path.join(tmp, "o"))
    orc = oracle.CdcOracle(windows)
    n = len(windows)
    exp = orc.con.execute(
        f"SELECT {', '.join(oracle.ROW_COLS)} FROM expected"
    ).fetch_arrow_table()
    good = orc.check_sink(exp, n)
    check(
        good["missing"] == good["extra"] == 0 and good["hash_expected"] == good["hash_actual"],
        "oracle: refused its own sink",
    )
    dropped = orc.check_sink(exp.slice(1), n)
    check(
        dropped["missing"] == 1 and dropped["hash_expected"] != dropped["hash_actual"],
        "oracle: accepted a sink with a row dropped",
    )
    vals = exp.column("new_value").to_pylist()
    i = next(k for k, v in enumerate(vals) if v not in (None, "NEW RECORD"))
    vals[i] = vals[i] + "x"
    changed = exp.set_column(exp.schema.get_field_index("new_value"), "new_value", pa.array(vals))
    bad = orc.check_sink(changed, n)
    check(bad["missing"] == 1 and bad["extra"] == 1, "oracle: accepted a changed value")
    # watermarks: the largest LSN each table has in the generated files
    import pyarrow.parquet as pq

    wm: dict[str, int] = {}
    for w in windows:
        t = pq.read_table(w["cdc"]).to_pydict()
        for name, lsn in zip(t["table_name"], t["__$start_lsn"]):
            wm[name] = max(wm.get(name, 0), int(lsn, 16))
    check(orc.watermarks(n) == wm, "oracle: watermarks differ from the generated LSNs")
    # every planted near-duplicate is a true duplicate for the numpy truth
    e = gen.embeddings(3, SMALL_VECTORS)
    for (ids, vecs), pairs in zip(e["batches"], e["planted"]):
        truth = oracle.dedup_truth(e["corpus"][1], ids, vecs, 0.9)
        check(all(truth[new] for new, _ in pairs), "oracle: a planted pair is below the threshold")
    print(f"ok  oracle: accepts its own sink ({good['rows_expected']} rows), "
          "refuses a dropped row and a changed value; watermarks and planted pairs agree")


def smoke() -> None:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        names = list(json.load(fh)["workloads"])
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "11", "--seconds", "3", "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
            lines = proc.stdout.strip().splitlines()
            check(
                proc.returncode == 0 and len(lines) >= 2 and json.loads(lines[-1])["correct"],
                f"smoke {name} trace={trace}: exit {proc.returncode}\n"
                f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}",
            )
            res = json.loads(lines[-1])
            note = ""
            if trace:
                overhead = json.loads(lines[-2])["perfbench"]["trace_overhead"]["overhead_frac"]
                check(overhead is not None, f"smoke {name}: no overhead against the untraced run")
                note = f", trace overhead {overhead:+.2f}"
            print(f"ok  smoke {name} trace={trace}: {res['attempted']} ops, "
                  f"{len(res['metrics'])} metrics, oracle agrees{note}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--smoke", action="store_true", help="also run every workload briefly")
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selfcheck-", dir=work)
    try:
        check_determinism(tmp)
        check_oracle(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if args.smoke:
        smoke()
    return 0


if __name__ == "__main__":
    sys.exit(main())
