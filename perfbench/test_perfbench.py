"""Tests of the benchmark's own logic: the percentile rule, generator
determinism, the oracle check, and failure accounting.

    python3 perfbench/test_perfbench.py
"""
import sys

sys.dont_write_bytecode = True

import filecmp  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import tempfile  # noqa: E402
import unittest  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

SCRATCH = os.path.join(HERE, ".out", "test")


def tmpdir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=SCRATCH)


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class PercentileRule(unittest.TestCase):
    def test_median_needs_ten_samples_above_it(self):
        self.assertFalse(metrics.reportable(19, 0.5))
        self.assertTrue(metrics.reportable(20, 0.5))
        with self.assertRaises(ValueError):
            metrics.percentile(range(19), 0.5)
        self.assertEqual(metrics.percentile(range(21), 0.5), 10)

    def test_p90_needs_a_hundred_samples(self):
        self.assertFalse(metrics.reportable(99, 0.9))
        self.assertTrue(metrics.reportable(100, 0.9))
        with self.assertRaises(ValueError):
            metrics.percentile(range(99), 0.9)

    def test_tail_is_the_highest_percentile_the_sample_carries(self):
        self.assertAlmostEqual(metrics.tail_percentile(100), 0.9)
        self.assertAlmostEqual(metrics.tail_percentile(40), 0.75)
        self.assertTrue(metrics.reportable(40, metrics.tail_percentile(40)))
        self.assertEqual(metrics.tail_percentile(12), 0.5)


class Generator(unittest.TestCase):
    CASES = (("etl_ingest", 0.125), ("corpus_curate", 0.002))

    def test_same_seed_gives_byte_identical_inputs(self):
        for workload, scale in self.CASES:
            with tmpdir() as d:
                gen.generate(workload, 5, f"{d}/a", scale)
                gen.generate(workload, 5, f"{d}/b", scale)
                self.assertTrue(same_tree(f"{d}/a", f"{d}/b"), workload)

    def test_different_seeds_give_different_inputs(self):
        for workload, scale in self.CASES:
            with tmpdir() as d:
                gen.generate(workload, 5, f"{d}/a", scale)
                gen.generate(workload, 6, f"{d}/b", scale)
                self.assertFalse(same_tree(f"{d}/a", f"{d}/b"), workload)

    def test_etl_batches_carry_the_stated_update_share_with_unique_keys(self):
        seen = set()
        for b, recs in enumerate(gen.etl_batches(3, 5)):
            keys = [r["id"] for r in recs]
            self.assertEqual(len(keys), len(set(keys)))
            updates = sum(k in seen for k in keys)
            self.assertEqual(updates, 0 if b == 0 else gen.ETL_BATCH * gen.ETL_UPDATE_SHARE)
            seen.update(keys)

    def test_etl_inputs_are_a_fixed_number_of_whole_days(self):
        with tmpdir() as d:
            m = gen.generate("etl_ingest", 5, d)
            self.assertEqual(m["rows"]["batches"], gen.ETL_DAYS * gen.ETL_BATCHES_PER_DAY)
            self.assertEqual(len(os.listdir(f"{d}/etl")), m["rows"]["batches"])

    def test_corpus_plants_duplicates(self):
        import duckdb
        with tmpdir() as d:
            gen.generate("corpus_curate", 5, d, 0.01)
            n, distinct = duckdb.sql(
                f"SELECT count(*), count(DISTINCT lower(regexp_replace(text, '\\s+', ' ', 'g'))) "
                f"FROM '{d}/documents.parquet'").fetchone()
            self.assertLess(distinct, n * (1 - gen.CORPUS_EXACT_DUP_SHARE / 2))


class OracleCheck(unittest.TestCase):
    COLS = ["k", "v"]
    ROWS = [(i, i * 0.5) for i in range(150)]

    def got(self, rows):
        return [{"k": k, "v": v} for k, v in rows]

    def test_matching_rows_pass(self):
        self.assertEqual(check.compare_rows(self.got(reversed(self.ROWS)), self.COLS, self.ROWS), "")

    def test_planted_wrong_value_is_rejected(self):
        bad = list(self.ROWS)
        bad[7] = (7, 99.0)
        self.assertIn("not in the oracle", check.compare_rows(self.got(bad), self.COLS, self.ROWS))

    def test_missing_row_and_wrong_columns_are_rejected(self):
        self.assertIn("rows", check.compare_rows(self.got(self.ROWS[1:]), self.COLS, self.ROWS))
        self.assertIn("columns", check.compare_rows([{"k": 1}], self.COLS, self.ROWS))

    def test_paged_prefix_is_checked_against_the_whole_result(self):
        prefix = self.got(self.ROWS[:100])
        self.assertEqual(check.compare_rows(prefix, self.COLS, self.ROWS, 150, 100), "")
        self.assertIn("token total", check.compare_rows(prefix, self.COLS, self.ROWS, 149, 100))
        wrong = self.got(self.ROWS[:99] + [(500, 1.0)])
        self.assertIn("not in the oracle", check.compare_rows(wrong, self.COLS, self.ROWS, 150, 100))

    def test_check_queries_marks_the_planted_op_failed(self):
        with tmpdir() as d:
            import duckdb
            duckdb.sql(f"COPY (SELECT i AS k, i * 0.5 AS v FROM range(5) t(i)) "
                       f"TO '{d}/t.parquet' (FORMAT PARQUET)")
            os.makedirs(f"{d}/rows")
            good = [{"k": i, "v": i * 0.5} for i in range(5)]
            for i, rows in enumerate([good, good[:4] + [{"k": 4, "v": 2.25}]]):
                with open(f"{d}/rows/op-{i:05d}.jsonl", "w") as f:
                    f.write("\n".join(json.dumps(r) for r in rows))
            result = {"oracle_sql": {"q_t": "SELECT k, v FROM t"},
                      "ops": [{"index": i, "name": "q_t", "kind": "query", "info": {}}
                              for i in range(2)]}
            self.assertEqual(list(check.check_queries(result, d, d)), [1])

    def test_table_checksum_is_order_independent_and_ignores_nulls(self):
        a = [{"id": 1, "meta": {"s": "x", "n": None}}, {"id": 2, "p": None}]
        b = [{"id": 2}, {"meta": {"s": "x"}, "id": 1}]
        self.assertEqual(check.checksum(a), check.checksum(b))
        self.assertNotEqual(check.checksum(a), check.checksum(b[:1]))


class FailureAccounting(unittest.TestCase):
    OPS = [{"index": i, "info": {}} for i in range(4)]

    def test_a_raising_op_raises_the_ratio(self):
        ops = [dict(o) for o in self.OPS]
        self.assertEqual(metrics.failed_ops_ratio(ops, {}), 0.0)
        ops[2]["error"] = "boom"
        self.assertEqual(metrics.failed_ops_ratio(ops, {}), 0.25)

    def test_an_output_mismatch_counts_as_a_failure(self):
        self.assertEqual(metrics.failed_ops_ratio(self.OPS, {1: ["mismatch"], 3: ["x"]}), 0.5)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [{"id": "1", "parent": "0", "name": "a", "start_ns": 0, "end_ns": 100},
                 {"id": "2", "parent": "1", "name": "b", "start_ns": 10, "end_ns": 40},
                 {"id": "3", "parent": "1", "name": "b", "start_ns": 30, "end_ns": 60}]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["a"]["self_s"], 50e-9)
        self.assertEqual(st["b"]["calls"], 2)


class LayerMetrics(unittest.TestCase):
    def test_io_bytes_count_appends_and_what_compaction_jobs_wrote(self):
        ops = [{"index": i, "kind": "batch", "dur_s": 1.0,
                "info": {"records": 10, "input_bytes": 100, "appended_bytes": 99}}
               for i in range(2)]
        spans = [{"id": 1, "parent": 0, "op": 1, "name": "io.compact", "start_ns": 0,
                  "end_ns": 10, "attrs": {}},
                 {"id": 2, "parent": 1, "op": 1, "name": "spark.job", "start_ns": 0,
                  "end_ns": 10, "attrs": {"output_bytes": 150}},
                 {"id": 3, "parent": 0, "op": 1, "name": "tables.upsert", "start_ns": 0,
                  "end_ns": 10, "attrs": {}},
                 {"id": 4, "parent": 3, "op": 1, "name": "spark.job", "start_ns": 0,
                  "end_ns": 10, "attrs": {"output_bytes": 1000}}]
        m = metrics.per_layer("etl_ingest", {"ops": ops}, {}, spans, {}, {}, 4)
        self.assertAlmostEqual(m["io.bytes_written_per_input_byte"], (99 + 99 + 150) / 200)
        self.assertEqual(set(m), set(metrics.PER_LAYER_UNITS))


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_what_run_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
