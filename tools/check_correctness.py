"""Local replica of the driver's correctness gate: run each
__spark_entry__ query on Spark and its oracle on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values.  A
query that leaves an RDD persisted after ``release_caches()`` fails as
``LEAK``.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from strom_spark import get_spark
from strom_spark.io import TABLES


def norm_cell(v):
    """Type-faithful cell normalization mirroring the driver: a float
    renders with a fractional marker even when integral (``78.0``),
    while an int renders bare (``78``) — so an oracle column that came
    back float64 (e.g. DuckDB integer-SUM -> HUGEINT -> pandas float)
    MISMATCHES a Spark bigint, exactly as the driver's hash does.
    Floats keep %.9g magnitude tolerance for genuine double columns."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        s = f"{v:.9g}"
        if not any(c in s for c in ".einf"):
            s += ".0"
        return s
    if isinstance(v, (int,)):
        return str(v)
    return str(v)


def frame_signature(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(",".join(norm_cell(r[i]) for i in order) for r in rows)
    return lines


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    # accept space-separated names, comma-joined lists, and a literal
    # --queries flag — and REFUSE unknown names instead of silently
    # filtering to nothing (r14: a comma-joined list matched zero
    # registry names and the run printed a vacuous ALL GREEN)
    only: set[str] = set()
    for a in sys.argv[1:]:
        if os.path.isdir(a) or a == "--queries":
            continue
        only.update(x for x in a.split(",") if x)
    unknown = only - set(entrymod.queries())
    if unknown:
        raise SystemExit(f"unknown query names: {sorted(unknown)}")
    spark = get_spark("correctness")
    spark.sparkContext.setLogLevel("ERROR")
    # big-SF hygiene: bound duck's parallelism (don't fight the Spark
    # session for all 32 cores) and memory (spill instead of
    # ballooning); SPARK_GRAFT_ORACLE_TIMEOUT=<sec> interrupts an
    # oracle that runs away (recursive CTEs at 10x data) so one
    # pathological query can't stall the whole sweep;
    # SPARK_GRAFT_MAX_ROWS=<n> skips (rather than collects) a result
    # larger than n rows — a 143M-pair output poisons the whole
    # process heap if collected (the round-9 sf1.0 lesson)
    oracle_timeout = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT", "0") or 0)
    max_rows = int(os.environ.get("SPARK_GRAFT_MAX_ROWS", "0") or 0)

    def fresh_con():
        c = duckdb.connect()
        c.execute(f"SET threads={os.environ.get('SPARK_GRAFT_DUCK_THREADS', '16')}")
        c.execute(
            f"SET memory_limit='{os.environ.get('SPARK_GRAFT_DUCK_MEM', '24GB')}'"
        )
        # an in-memory duckdb has NO temp directory and therefore NO
        # operator spilling — a decade-size window/join oracle hits the
        # memory limit with 'bad allocation' instead of spilling.
        # SPARK_GRAFT_DUCK_TMP points it at disk (r12, found when the
        # sf10 substring oracle OOM'd at a 56GB limit)
        tmp = os.environ.get("SPARK_GRAFT_DUCK_TMP")
        if tmp:
            os.makedirs(tmp, exist_ok=True)
            c.execute(f"SET temp_directory='{tmp}'")
            # bound the spill so a runaway decade oracle cannot fill
            # the disk under the SAME chunk's Spark shuffle dirs (r14:
            # the 900s minhash-clusters oracle wrote 68GB of temp) —
            # exceeding the cap raises an allocation error that the
            # resource classifier below records as SKIP-infeasible
            c.execute(
                "SET max_temp_directory_size='"
                + os.environ.get("SPARK_GRAFT_DUCK_TMP_MAX", "40GB")
                + "'"
            )
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    con = fresh_con()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            if max_rows:
                n = sdf.count()
                if n > max_rows:
                    print(
                        f"SKIP  {name}: spark result {n} rows > "
                        f"SPARK_GRAFT_MAX_ROWS={max_rows} — output-bound "
                        f"at this SF, not collectable"
                    )
                    failures.append(f"{name}(rows-cap)")
                    continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        finally:
            # operator-internal persists and lineage cuts are dead once
            # the query is collected; releasing here keeps decade-SF
            # sweeps from accumulating disk-backed blocks (the r9 OOM
            # cascade)
            from strom_spark.cache import release_caches

            release_caches()
            # whatever release_caches() missed outlives the query: it
            # fails the query, and is dropped here so that the next
            # query is judged on its own
            leaked = list(spark.sparkContext._jsc.getPersistentRDDs().values())
            for rdd in leaked:
                rdd.unpersist(False)
        if leaked:
            print(f"LEAK  {name}: {len(leaked)} RDDs")
            failures.append(name)
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"ok?   {name}: rows={len(srows)} (no oracle, rows-only) [{t1-t0:.1f}s]")
            continue

        def _is_resource(msg: str) -> bool:
            # oracle RESOURCE exhaustion is infeasibility, not a
            # mismatch: a decade-size replay that outgrows the memory
            # limit or fills the spill cap earns the same
            # SKIP-with-invariant-cover a timeout does (r14).  Real
            # oracle defects (syntax, binder, conversion) still FAIL.
            low = msg.lower().replace("-", " ")
            return (
                "bad allocation" in low
                or "no space left on device" in low
                or "out of memory" in low
                or "could not allocate" in low
                or "temp directory size limit" in low
                or "failed to offload" in low
            )

        if oracle_timeout:
            # CHILD-ISOLATED oracle (r14): a 40-56GB duck high-water
            # stays resident in this process's allocator even after
            # con.close(), and the NEXT query's Spark job then dies of
            # native allocation failure (two sweeps lost a chunk to
            # exactly this).  A forked child runs the oracle, hands
            # (cols, rows) back through a pickle file, and dies —
            # returning every byte to the OS before Spark runs again.
            # A killed/OOMed child is classified as resource-infeasible
            # instead of taking the whole chunk down.
            import multiprocessing as mp
            import pickle
            import tempfile

            fd, opath = tempfile.mkstemp(suffix=".orc.pkl")
            os.close(fd)

            def _child(sql=oracles[name], path=opath):
                try:
                    c = fresh_con()
                    ddf = c.execute(sql).df()
                    cols = list(ddf.columns)
                    rows = [
                        tuple(r)
                        for r in ddf.itertuples(index=False, name=None)
                    ]
                    with open(path, "wb") as f:
                        pickle.dump(("OK", (cols, rows)), f, protocol=4)
                    os._exit(0)
                except BaseException as e:  # noqa: BLE001
                    try:
                        with open(path, "wb") as f:
                            pickle.dump(
                                ("ERR", f"{type(e).__name__}: {e}"), f,
                                protocol=4,
                            )
                    finally:
                        os._exit(3)

            proc = mp.get_context("fork").Process(target=_child)
            proc.start()
            proc.join(oracle_timeout)
            if proc.is_alive():
                proc.kill()
                proc.join()
                os.unlink(opath)
                print(
                    f"SKIP  {name}: oracle exceeded {oracle_timeout:.0f}s "
                    f"(interrupted) — spark rows={len(srows)}"
                )
                failures.append(f"{name}(oracle-timeout)")
                continue
            try:
                with open(opath, "rb") as f:
                    status, payload = pickle.load(f)
            except Exception:
                status, payload = (
                    "ERR",
                    f"oracle child died (exit {proc.exitcode}) — "
                    "out of memory or killed",
                )
            finally:
                os.unlink(opath)
            if status == "ERR":
                msg = str(payload)
                if _is_resource(msg) or "child died" in msg:
                    print(
                        f"SKIP  {name}: oracle resource-infeasible at "
                        f"this SF ({msg[:120]}) — spark rows={len(srows)}"
                    )
                    failures.append(f"{name}(oracle-resource)")
                else:
                    print(f"FAIL  {name}: duckdb error: {msg[:300]}")
                    failures.append(name)
                continue
            dcols, drows = payload
        else:
            try:
                ddf = con.execute(oracles[name]).df()
            except Exception as e:
                msg = str(e)
                if _is_resource(msg):
                    print(
                        f"SKIP  {name}: oracle resource-infeasible at "
                        f"this SF ({msg[:120]}) — spark rows={len(srows)}"
                    )
                    failures.append(f"{name}(oracle-resource)")
                    continue
                print(f"FAIL  {name}: duckdb error: {msg[:300]}")
                failures.append(name)
                continue
            dcols = list(ddf.columns)
            drows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
        t2 = time.time()
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
            failures.append(name)
            continue
        ssig = frame_signature(srows, scols)
        dsig = frame_signature(drows, dcols)
        if ssig != dsig:
            diffs = [(a, b) for a, b in zip(ssig, dsig) if a != b][:3]
            print(f"FAIL  {name}: value mismatch ({len([1 for a,b in zip(ssig,dsig) if a!=b])} rows); first: {diffs}")
            failures.append(name)
            continue
        print(f"PASS  {name}: rows={len(srows)} [spark {t1-t0:.1f}s, duck {t2-t1:.1f}s]")
    print()
    print(f"{len(failures)} failures: {failures}" if failures else "ALL GREEN")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
