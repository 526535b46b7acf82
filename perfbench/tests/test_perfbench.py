"""Self-tests for the benchmark harness (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import pathlib
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

BENCHMARK = json.loads(pathlib.Path(HERE).parent.parent.joinpath("BENCHMARK.json").read_text())


def read(p):
    return pathlib.Path(p).read_text()


def write(p, text):
    pathlib.Path(p).write_text(text)


def write_wordcount_output(d, job, counts, reducers):
    """A correct range-partitioned output: R contiguous sorted slices."""
    words = sorted(counts)
    step = -(-len(words) // reducers)
    for r in range(reducers):
        with open(os.path.join(d, f"{job}-{r + 1}.out"), "w") as f:
            f.writelines(f"{w} {counts[w]}\n" for w in words[r * step:(r + 1) * step])


class WordCountCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.d = self.tmp.name
        gen.corpus(self.d, 5, 3000, 400)
        self.counts = json.loads(read(os.path.join(self.d, "counts.json")))
        write_wordcount_output(self.d, "wc", self.counts, 3)

    def tearDown(self):
        self.tmp.cleanup()

    def check(self):
        return checks.wordcount_check(self.d, "wc", 3, self.counts)

    def test_counts_match_python_whitespace_split(self):
        text = read(os.path.join(self.d, "corpus.txt"))
        got = {}
        for w in text.split():
            got[w] = got.get(w, 0) + 1
        self.assertEqual(got, self.counts)
        self.assertIn("  ", text)
        self.assertIn("\n\n", text)

    def test_correct_output_passes(self):
        self.assertIsNone(self.check())

    def test_swapped_count_is_rejected(self):
        p = os.path.join(self.d, "wc-2.out")
        lines = read(p).splitlines()
        i = next(i for i in range(len(lines) - 1)
                 if lines[i].split()[1] != lines[i + 1].split()[1])
        (a, na), (b, nb) = lines[i].split(), lines[i + 1].split()
        lines[i], lines[i + 1] = f"{a} {nb}", f"{b} {na}"
        write(p, "\n".join(lines) + "\n")
        self.assertIn("wrong counts", self.check())

    def test_missing_file_is_rejected(self):
        os.remove(os.path.join(self.d, "wc-3.out"))
        self.assertIn("expected 3 files", self.check())

    def test_unsorted_line_is_rejected(self):
        p = os.path.join(self.d, "wc-1.out")
        lines = read(p).splitlines()
        lines[0], lines[1] = lines[1], lines[0]
        write(p, "\n".join(lines) + "\n")
        self.assertIn("not sorted", self.check())

    def test_overlapping_ranges_are_rejected(self):
        a, b = (os.path.join(self.d, f"wc-{r}.out") for r in (1, 2))
        *rest, last_b = read(b).splitlines()
        write(a, read(a) + last_b + "\n")
        write(b, "\n".join(rest) + "\n")
        self.assertIn("overlaps", self.check())


class EventLogCheckTest(unittest.TestCase):
    GOOD = ["1,Start_Job,wc001,1,4,4,0,/in/corpus.txt,2,none,/out/wc001",
            "1,Dispatch_MapTask,0,0", "1,Complete_MapTask,0,12",
            "2,Dispatch_ReduceTask,1,0", "2,Complete_ReduceTask,1,7", "2,Finish_Job,1234"]

    def check(self, lines):
        with tempfile.NamedTemporaryFile("w", suffix="-log.out", delete=False) as f:
            f.write("\n".join(lines) + "\n")
        try:
            return checks.eventlog_check(f.name)
        finally:
            os.remove(f.name)

    def test_grammar(self):
        self.assertIsNone(self.check(self.GOOD))
        self.assertIsNotNone(self.check(self.GOOD[:-1]))
        self.assertIsNotNone(self.check(self.GOOD[:2] + self.GOOD[3:]))
        self.assertIsNotNone(self.check(self.GOOD[:1] + ["1,Dispatch_MapTask,x,0"] + self.GOOD[1:]))


class OracleCheckTest(unittest.TestCase):
    SQL = "SELECT k, CAST(sum(v) AS DOUBLE) AS s FROM t GROUP BY k"

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        self.tables, self.out = os.path.join(d, "tables"), os.path.join(d, "out")
        os.makedirs(self.tables)
        os.makedirs(os.path.join(self.out, "q"))
        con = duckdb.connect()
        con.sql("SELECT i % 3 AS k, i * 0.5 AS v FROM range(20) r(i)").write_parquet(
            os.path.join(self.tables, "t.parquet"))
        self.con = con

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def result(self, sql):
        self.con.sql(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{self.tables}/t.parquet'")
        self.con.sql(sql).write_parquet(os.path.join(self.out, "q", "part-0.parquet"))
        return checks.oracle_check(self.tables, self.out, {"q": self.SQL})["q"]

    def test_correct_result_passes(self):
        self.assertIsNone(self.result(self.SQL + " ORDER BY s DESC"))

    def test_wrong_value_is_rejected(self):
        bad = "SELECT k, CASE WHEN k = 1 THEN s + 1 ELSE s END AS s FROM (" + self.SQL + ")"
        self.assertIn("value mismatch", self.result(bad))

    def test_missing_row_is_rejected(self):
        self.assertIn("rows", self.result(self.SQL + " HAVING k > 0"))

    def test_missing_output_is_rejected(self):
        self.assertEqual(checks.oracle_check(self.tables, self.out, {"none": self.SQL})["none"],
                         "no output")


def synthetic_artifact(traced):
    def op(region, p, k, start):
        return {"name": "q1", "id": f"{region}/{p}/{k}/q1", "ok": True, "error": "",
                "lat_s": 0.5, "build_s": 0.1, "sink_s": 0.4, "start_ms": start,
                "end_ms": start + 500, "hygiene_s": 0.1}
    timed = [{"ops": [op("timed", p, k, 1000 * p + 600 * k) for k in range(2)], "run_s": 1.0}
             for p in range(6)]
    art = {"setup": {"session_s": 1.0, "warmup_s": 2.0, "setup_s": 3.0},
           "timed": timed, "vmhwm_kb": 500000, "calib": {"scan_s": 0.2, "ckpt_s": 0.3}}
    if traced:
        art["traced"] = [{"ops": [op("traced", p, k, 90000 + 1000 * p + 600 * k)
                                  for k in range(2)], "run_s": 1.1} for p in range(6)]
        art["trace"] = {
            "jobs": [{"id": 0, "start": 90010, "end": 90400, "span": "traced/0/0/q1/sink",
                      "stages": [0, 1], "ok": True}],
            "stages": [{"id": 1, "attempt": 0, "submit": 90020, "complete": 90300, "tasks": 4,
                        "result": 4, "dur_ms": 800, "run_ms": 700, "cpu_ns": 6e8}],
            "blocks": [{"t": 90100, "delta": 2000000, "written": True}],
            "plans": [{"t": 90005, "ms": 5}], "streams": []}
    return art


class MetricsTest(unittest.TestCase):
    def test_names_and_units_match_benchmark_json(self):
        self.assertEqual([(m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in BENCHMARK["workloads"]),
                         sorted(run.WORKLOADS))

    def test_result_line_prints_exactly_the_declared_metrics(self):
        for traced, decl in ((False, "end_to_end"), (True, "per_layer")):
            res = metrics.summarize(synthetic_artifact(traced), lambda o: None, traced, 4,
                                    2e6, tempfile.gettempdir())
            line = res["line"]
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(line["correct"])
            self.assertEqual(list(line["metrics"]), [m["name"] for m in BENCHMARK[decl]])
            for m in BENCHMARK[decl]:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
            printed = [r.split()[0] for r in res["report"] if not r.startswith("#")]
            self.assertEqual(printed, [m["name"] for m in BENCHMARK[decl]] + ["error_rate"])

    def test_failed_check_counts_as_error_and_misses_latency(self):
        res = metrics.summarize(synthetic_artifact(False), lambda o: "bad" if o["id"].endswith(
            "/0/q1") else None, False, 4, 2e6, tempfile.gettempdir())
        self.assertFalse(res["line"]["correct"])
        self.assertEqual(res["line"]["failed"], 6)
        self.assertEqual(res["artifact"]["error_rate"], 0.5)
        self.assertEqual(res["artifact"]["end_to_end"]["op_tail_s"], float("inf"))
        self.assertIsNone(res["line"]["metrics"]["op_tail_s"]["value"])
        json.dumps(res["line"], allow_nan=False)

    def test_traced_and_untraced_runs_execute_the_same_op_list(self):
        self.assertEqual(run.pass_orders("queries", 7, 5), run.pass_orders("queries", 7, 5))
        art = synthetic_artifact(True)
        self.assertTrue(metrics.same_op_lists(art["timed"], art["traced"]))
        art["traced"][2]["ops"][0]["name"] = "q2"
        self.assertFalse(metrics.same_op_lists(art["timed"], art["traced"]))
        res = metrics.summarize(art, lambda o: None, True, 4, 2e6, tempfile.gettempdir())
        self.assertFalse(res["line"]["correct"])

    def test_tail_percentile(self):
        self.assertEqual(metrics.tail(list(range(1, 51))), (49, 98.0, 50))
        self.assertEqual(metrics.tail([3, 1, 2, 4]), (3, 75.0, 4))
        self.assertEqual(metrics.tail([7]), (7, 100.0, 1))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 1), ("b", 1), ("c", 2)):
                gen.tables(os.path.join(d, name), seed, 0.001)
            def lineitem(name):
                return pathlib.Path(d, name, "lineitem.parquet").read_bytes()
            self.assertEqual(lineitem("a"), lineitem("b"))
            self.assertNotEqual(lineitem("a"), lineitem("c"))


if __name__ == "__main__":
    unittest.main()
