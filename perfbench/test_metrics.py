"""Unit tests of the benchmark's own arithmetic, on fixed inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        v = list(range(1, 101))  # n = 100: q = 0.9, between the 90th and 91st
        t = metrics.tail_value(v)
        self.assertAlmostEqual(t, 90.1)
        self.assertEqual(sum(x > t for x in v), 10)

    def test_order_does_not_matter(self):
        v = [(7 * i) % 30 for i in range(30)]  # 0..29 shuffled; q = 2/3
        self.assertAlmostEqual(metrics.tail_value(v), 19 + 1 / 3)
        self.assertEqual(sum(x > metrics.tail_value(v) for x in v), 10)

    def test_twenty_samples_give_the_median(self):
        v = list(range(20))
        self.assertEqual(metrics.tail_value(v), 9.5)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(metrics.tail_value([3, 1, 2]), 3)
        self.assertEqual(metrics.tail_value(list(range(19))), 18)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)]), 7)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_a_window(self):
        self.assertEqual(metrics.union_length([(0, 4), (6, 20)], lo=2, hi=10), 6)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 6)], lo=7, hi=9), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_covered_part_is_removed(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 5), (7, 8)]), 5)

    def test_children_outside_the_span_do_not_count(self):
        self.assertEqual(metrics.self_time((10, 20), [(0, 12), (19, 30)]), 7)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((3, 4.5), []), 1.5)


class FailureTest(unittest.TestCase):
    ops = [{"op": i, "name": n, "error": e} for i, (n, e) in enumerate(
        [("a", None), ("b", "boom"), ("a", None), ("c", None), ("b", None)])]

    def test_thrown_ops_count(self):
        self.assertEqual(metrics.count_failures(self.ops), (1, {"b": 1}))

    def test_a_wrong_query_result_fails_every_op_of_it(self):
        failed, by_name = metrics.count_failures(self.ops, bad_names={"a": "wrong"})
        self.assertEqual((failed, by_name), (3, {"a": 2, "b": 1}))

    def test_a_wrong_sync_fails_that_op(self):
        self.assertEqual(metrics.count_failures(self.ops, bad_ops={3}),
                         (2, {"b": 1, "c": 1}))

    def test_each_op_counts_once(self):
        failed, _ = metrics.count_failures(self.ops, bad_names={"b": "x"}, bad_ops={1, 4})
        self.assertEqual(failed, 2)


class EndToEndTest(unittest.TestCase):
    ops = [{"start": 0, "end": 500, "cpu_ms": 900, "jit_cpu_ms": 300, "vm_cpu_ms": 100,
            "live_heap_bytes": 2**20},
           {"start": 600, "end": 1600, "cpu_ms": 1300, "jit_cpu_ms": 100, "vm_cpu_ms": 0,
            "live_heap_bytes": 3 * 2**20}]

    def test_metrics_of_a_loop(self):
        m = metrics.end_to_end({"setup_s": 2.5, "ops": self.ops}, lambda o: 1000, failed=1)
        self.assertEqual(m["setup_s"], 2.5)
        self.assertAlmostEqual(m["throughput_rows_s"], 2000 / 1.5)
        self.assertAlmostEqual(m["op_p50_s"], 0.75)
        self.assertEqual(m["op_tail_s"], 1.0)
        self.assertEqual(m["ok_op_ratio"], 0.5)
        self.assertEqual(m["live_heap_peak_mb"], 3)

    def test_cpu_leaves_out_the_jvm_internal_threads(self):
        m = metrics.end_to_end({"setup_s": 1, "ops": self.ops}, lambda o: 1000, failed=0)
        self.assertAlmostEqual(m["cpu_per_row_us"], (500 + 1200) * 1e3 / 2000)


class QueryTablesTest(unittest.TestCase):
    def test_tables_from_from_and_join_clauses(self):
        sql = ("WITH t AS (SELECT * FROM lineitem) SELECT * FROM t "
               "JOIN orders ON a = b join Part ON c = d WHERE x IN (SELECT y FROM customer)")
        self.assertEqual(metrics.query_tables(sql), ["customer", "lineitem", "orders", "part"])


if __name__ == "__main__":
    unittest.main()
