"""Self-test of the benchmark at tiny sizes (no Spark session needed).

    python3 perfbench/selftest.py

Run from the root of a checkout. Checks that generated inputs are
byte-identical for one seed and differ between seeds, that the result line
names every metric of BENCHMARK.json with its unit, and that an injected
wrong result is counted as a failed operation.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
from types import SimpleNamespace

sys.path.insert(0, os.getcwd())

from perfbench import gen  # noqa: E402
from perfbench.run import load_bench, result_line  # noqa: E402
from perfbench.workloads import AnalyticsRead, Op  # noqa: E402

TINY = dict(sf=0.001, docs=60, vectors=40)


def digest(root: str) -> str:
    h = hashlib.md5()
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


def csv_digest(seed: int) -> str:
    b = gen.CsvBatches(seed)
    return hashlib.md5(b"".join(b.make(i, 50)[0] for i in range(3))).hexdigest()


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest failed: {what}")


def main() -> int:
    bench = load_bench()
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.getcwd())
    try:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        counts = gen.write_tables(a, 1, **TINY)
        gen.write_tables(b, 1, **TINY)
        gen.write_tables(c, 2, **TINY)
        check(digest(a) == digest(b), "same seed must give identical tables")
        check(digest(a) != digest(c), "another seed must give other tables")
        check(csv_digest(1) == csv_digest(1) != csv_digest(2), "CSV batches must follow the seed")

        for kind in ("end_to_end", "per_layer"):
            line = result_line({}, bench[kind], 1, 0)
            for w in bench[kind]:
                check(line["metrics"][w["name"]]["unit"] == w["unit"], f"{w['name']} printed with its unit")

        # an injected wrong result must count as a failed operation
        ctx = SimpleNamespace(spark=None, tracer=None, seed=1, tables_dir=a, counts=counts)
        wl = AnalyticsRead(ctx)
        con = wl.duck()
        from data_ingestion_bra_spark.plans.registry import get_oracle_sql

        good = con.sql(get_oracle_sql()["dedup_exact_groups"]).df()
        bad = good.copy()
        bad.loc[0, "n_docs"] += 1
        ops = [Op("dedup_exact_groups", 0, result=good), Op("dedup_exact_groups", 1, result=bad)]
        wl.check_registry(ops, con)
        check([o.ok for o in ops] == [True, False], f"injected wrong result flagged: {[o.error for o in ops]}")
        failed = sum(not o.ok for o in ops)
        check(result_line({}, bench["end_to_end"], len(ops), failed)["failed"] == 1, "failure counted")
        print("selftest ok")
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
