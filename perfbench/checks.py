"""Output checks for the benchmark.

* `oracle_check` compares each table op's parquet result with its DuckDB
  oracle SQL over the same tables, canonicalized as `tools/selfcheck.py`
  does: columns sorted by name, rows sorted by all columns, dtypes equal,
  values exactly equal.
* `wordcount_check` checks one `WordCountJob.run` output directory: exactly
  R `<job>-<r>.out` files, each sorted, ranges contiguous across files, and
  merged counts equal to the generator's exact counts.
* `eventlog_check` checks a `<job>-log.out` against the
  `Start_Job ... Finish_Job` grammar of `Hw4EventLogListener`.

Each returns None when the output is correct, else a one-line reason.
"""
import glob
import os
import pathlib
import re

import duckdb
import pandas as pd


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _compare(spark_df, duck_df):
    if list(spark_df.columns) != list(duck_df.columns):
        return f"columns {list(spark_df.columns)} vs oracle {list(duck_df.columns)}"
    bad = [f"{c}: {spark_df[c].dtype} vs {duck_df[c].dtype}" for c in spark_df.columns
           if spark_df[c].dtype != duck_df[c].dtype
           and not (spark_df[c].dtype.kind == "M" and duck_df[c].dtype.kind == "M")]
    if bad:
        return "dtype mismatch: " + "; ".join(bad)
    if len(spark_df) != len(duck_df):
        return f"rows {len(spark_df)} vs oracle {len(duck_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        if a.dtype.kind == "M":
            a = a.astype("datetime64[us]").dt.tz_localize(None)
            b = b.astype("datetime64[us]").dt.tz_localize(None)
        eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = int((~eq).idxmax())
            return f"value mismatch in {c} (row {i}: {a[i]!r} vs {b[i]!r})"
    return None


def oracle_check(table_dir, result_dir, oracles):
    """{name: None | reason} for each name -> oracle SQL in `oracles`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(table_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    res = {}
    for name, sql in oracles.items():
        files = glob.glob(os.path.join(result_dir, name, "*.parquet"))
        if not sql:
            res[name] = "no oracle"
        elif not files:
            res[name] = "no output"
        else:
            try:
                got = _canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
                res[name] = _compare(got, _canon(con.sql(sql).df()))
            except Exception as e:  # a broken output or oracle is a failed check
                res[name] = f"check error: {e}"
    con.close()
    return res


def expected_listing(counts):
    """The merged WordCount output for exact `counts`: `word count` lines,
    sorted by word (byte order; the corpus is ASCII)."""
    return "".join(f"{w} {counts[w]}\n" for w in sorted(counts)).encode()


def wordcount_check(out_dir, job, reducers, counts, expected=None):
    files = [os.path.join(out_dir, f"{job}-{r}.out") for r in range(1, reducers + 1)]
    present = sorted(f for f in os.listdir(out_dir) if re.fullmatch(rf"{job}-\d+\.out", f))
    if present != sorted(os.path.basename(f) for f in files):
        return f"expected {reducers} files {job}-1..{reducers}.out, found {present}"
    blobs = [pathlib.Path(f).read_bytes() for f in files]
    if b"".join(blobs) == (expected if expected is not None else expected_listing(counts)):
        return None
    # Mismatch: name the first broken property.
    last = None
    for f, blob in zip(files, blobs):
        words = [ln.split(b" ")[0] for ln in blob.splitlines()]
        if words != sorted(words):
            return f"{os.path.basename(f)} is not sorted"
        if words and last is not None and words[0] <= last:
            return f"{os.path.basename(f)} overlaps the previous file's range"
        last = words[-1] if words else last
    got = {}
    for blob in blobs:
        for ln in blob.decode().splitlines():
            w, n = ln.rsplit(" ", 1)
            got[w] = got.get(w, 0) + int(n)
    diff = [w for w in set(got) | set(counts) if got.get(w) != counts.get(w)]
    if diff:
        w = sorted(diff)[0]
        return f"{len(diff)} words with wrong counts, e.g. {w!r}: {got.get(w)} vs {counts.get(w)}"
    return "output differs from the expected listing"


_LINE = {
    "Start_Job": re.compile(r"\d+,Start_Job,[^,]+,\d+,\d+,\d+,\d+,[^,]+,\d+,[^,]+,[^,]+"),
    "Dispatch_MapTask": re.compile(r"\d+,Dispatch_MapTask,\d+,\d+"),
    "Complete_MapTask": re.compile(r"\d+,Complete_MapTask,\d+,\d+"),
    "Dispatch_ReduceTask": re.compile(r"\d+,Dispatch_ReduceTask,\d+,\d+"),
    "Complete_ReduceTask": re.compile(r"\d+,Complete_ReduceTask,\d+,\d+"),
    "Finish_Job": re.compile(r"\d+,Finish_Job,\d+"),
}


def eventlog_check(path):
    """None when the log is `Start_Job`, task lines, `Finish_Job`, with
    every dispatched task completed; else the reason."""
    if not os.path.exists(path):
        return "no event log"
    lines = pathlib.Path(path).read_text().splitlines()
    if len(lines) < 2:
        return "event log has fewer than two lines"
    kinds = []
    for i, ln in enumerate(lines):
        parts = ln.split(",")
        kind = parts[1] if len(parts) > 1 else ""
        if kind not in _LINE or not _LINE[kind].fullmatch(ln):
            return f"line {i + 1} does not parse: {ln[:80]!r}"
        kinds.append(kind)
    if kinds[0] != "Start_Job" or kinds[-1] != "Finish_Job" or \
            "Start_Job" in kinds[1:] or "Finish_Job" in kinds[:-1]:
        return "log is not Start_Job ... Finish_Job"
    for phase in ("MapTask", "ReduceTask"):
        if kinds.count(f"Dispatch_{phase}") != kinds.count(f"Complete_{phase}"):
            return f"unbalanced Dispatch/Complete_{phase} lines"
    return None
