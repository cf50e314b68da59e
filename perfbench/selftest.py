#!/usr/bin/env python3
"""Self-test of the benchmark's output check (no Spark needed).

    python3 perfbench/selftest.py

Builds a small oracle result with DuckDB, writes it as an engine output
would be written (rows shuffled, columns reordered, split over files) and
checks that run.check accepts it; then perturbs one value, drops one row,
perturbs one ANN probe batch and removes one output, and checks that each
is caught, in whichever checked pass it happens.
Exits non-zero on any failure.
"""
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import run  # noqa: E402


def write_output(out, op, df, n_files=3):
    path = os.path.join(out, op)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    df = df.sample(frac=1.0, random_state=1)[list(reversed(df.columns))]
    step = (len(df) + n_files - 1) // n_files
    for i in range(n_files):
        df.iloc[i * step:(i + 1) * step].to_parquet(os.path.join(path, f"part-{i}.parquet"))


def main():
    con = duckdb.connect()
    want = con.execute("""
        SELECT i AS id, i * 0.25 AS score, 'k' || (i % 7) AS key,
               CASE WHEN i % 5 = 0 THEN NULL ELSE i % 3 END AS grp
        FROM range(200) t(i)""").fetchdf()
    probes = con.execute("""
        SELECT q AS query_id, r AS rank, q * 10 + r AS corpus_id, 1.0 / r AS cosine
        FROM range(10) a(q), range(1, 6) b(r)""").fetchdf()
    plan = {"probes": [[0, 1, 2, 3, 4], [2, 5, 7, 8, 9]]}
    batches = [probes[probes["query_id"].isin(p)] for p in plan["probes"]]
    import pandas as pd
    out = tempfile.mkdtemp(prefix="perfbench-selftest-")
    failures = []

    def expect(name, bad_ops, want_bad):
        caught = sorted(bad_ops)
        if caught != want_bad:
            failures.append(f"{name}: expected mismatches {want_bad}, got {caught} {bad_ops}")
        else:
            print(f"ok  {name}")

    try:
        exp = {"op": want, "ann_probe": probes}
        write_output(out, "op", want)
        write_output(out, "ann_probe", pd.concat(batches, ignore_index=True))
        expect("identical outputs pass", run.check(plan, out, exp), [])

        bad = want.copy()
        bad.loc[17, "score"] += 1e-9
        write_output(out, "op", bad)
        expect("perturbed value caught", run.check(plan, out, exp), ["op"])

        write_output(out, "op", want.drop(index=42))
        expect("missing row caught", run.check(plan, out, exp), ["op"])

        write_output(out, "op", want)
        swapped = batches[1].copy()
        swapped.loc[swapped.index[0], "corpus_id"] = -1
        write_output(out, "ann_probe", pd.concat([batches[0], swapped], ignore_index=True))
        expect("perturbed probe batch caught", run.check(plan, out, exp), ["ann_probe"])

        shutil.rmtree(os.path.join(out, "op"))
        write_output(out, "ann_probe", pd.concat(batches, ignore_index=True))
        expect("missing output caught", run.check(plan, out, exp), ["op"])

        # every pass is checked; a call that failed with an exception is not
        # counted a second time for its missing output
        for k in (1, 2, 3):
            write_output(os.path.join(out, f"pass-{k}"), "op", want if k != 2 else bad)
            write_output(os.path.join(out, f"pass-{k}"), "ann_probe",
                         pd.concat(batches, ignore_index=True))
        shutil.rmtree(os.path.join(out, "pass-3", "op"))
        expect("mismatch in any pass caught, failed call counted once",
               run.check_passes(plan, out, exp, [[], [], ["op"]]), ["pass-2/op"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
