"""Self-test of the benchmark: every workload on tiny inputs, in one Spark
session, and proof that each output check catches a corrupted result.

    python3 perfbench/selftest.py [--seed N]

For each workload: stage the tiny input, run the warm-up and one timed
pass, and require every check to pass. Then feed the checks a result with one row dropped and a
result with one value changed, and require the matching check to fail
(``stream_curate`` also gets a duplicated row, which its duplicate-key
check must catch). Exits 0 when all of this holds.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def drop_row(df: pd.DataFrame) -> pd.DataFrame:
    return df.iloc[1:].reset_index(drop=True)


def change_value(df: pd.DataFrame) -> pd.DataFrame:
    """Change one non-null value in the first column that has one (the
    last columns may be engine-only ones a check leaves out)."""
    df = df.copy()
    for col in df.columns:
        rows = df.index[df[col].notna()]
        if len(rows) == 0:
            continue
        i, v = rows[0], df.at[rows[0], col]
        if isinstance(v, str):
            df.at[i, col] = v + "x"
        elif isinstance(v, pd.Timestamp):
            df.at[i, col] = v + pd.Timedelta(microseconds=1)
        elif isinstance(v, (int, float)) or hasattr(v, "dtype"):
            df.at[i, col] = v + 1
        else:
            continue
        return df
    raise ValueError("no value to change")


def duplicate_row(df: pd.DataFrame) -> pd.DataFrame:
    return pd.concat([df, df.iloc[:1]], ignore_index=True)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="benchmark self-test")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    import gen
    import run
    import workloads

    from data_harvesting_spark import session

    tmp = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=tmp)
    problems: list[str] = []
    spark = None
    try:
        spark = run.start_spark(session.get_spark, "selftest", work)
        for name, cls in workloads.WORKLOADS.items():
            w = cls(work, args.seed, gen.TINY[name])
            w.warmup(spark)  # catalog: collects the checked rows
            w.run_pass(spark)  # streams: the checks read this pass's sink
            bad = [v for v in w.checks(spark) if v]
            problems += [f"{name}: clean result failed: {b}" for b in bad]
            print(f"{name}: {len(bad)} of the checks failed on the clean result")
            problems += corruption_cases(spark, w)
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(tmp):
            os.rmdir(tmp)
    for p in problems:
        print("PROBLEM", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


def corruption_cases(spark, w) -> list[str]:
    """Each corruption must make at least one check of ``w`` fail."""
    cases = [("one row dropped", drop_row), ("one value changed", change_value)]
    if w.name == "stream_curate":
        cases.append(("one row duplicated", duplicate_row))
    problems = []
    for label, corrupt in cases:
        if w.name == "catalog":
            # corrupt one query's result at a time; its own check must fail
            missed = []
            for n in w.names:
                clean = w.results[n]
                w.results[n] = corrupt(clean)
                verdicts = dict(zip(w.names, w.checks(spark)))
                w.results[n] = clean
                if verdicts[n] is None:
                    missed.append(n)
            caught = not missed
            detail = f"missed by {missed}" if missed else f"caught in all {len(w.names)} queries"
        else:
            clean = w.sink_rows(spark)
            w.sink_rows = lambda _spark, df=corrupt(clean): df
            verdicts = w.checks(spark)
            del w.sink_rows
            caught = any(verdicts)
            detail = "; ".join(v for v in verdicts if v) or "not caught"
        print(f"{w.name}: {label}: {detail}")
        if not caught:
            problems.append(f"{w.name}: {label} was not caught ({detail})")
    return problems


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
