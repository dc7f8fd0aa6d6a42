"""Tests of the benchmark's own statistics and answer model.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import pathlib
import random
import unittest

import gen
import stats

SPEC = json.loads((pathlib.Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def op(idx, start_ms, end_ms, answer):
    return {"idx": idx, "start_ns": int(start_ms * 1e6), "end_ns": int(end_ms * 1e6),
            "answer": answer}


class TailTest(unittest.TestCase):

    def test_ten_samples_lie_beyond_the_tail(self):
        for n in (11, 20, 37, 100, 1000):
            xs = random.Random(n).sample(range(10 * n), n)
            value, pct, m = stats.tail(xs)
            self.assertEqual(m, n)
            self.assertEqual(sum(x > value for x in xs), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_hundred_samples_give_p90(self):
        value, pct, _ = stats.tail(range(1, 101))
        self.assertEqual((value, pct), (90, 90.0))

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(stats.tail(list(range(10)))[:2], (9, 100.0))


class ClosedLoopTest(unittest.TestCase):

    def test_wrong_and_failed_ops_are_counted(self):
        expected = ["a", "b", "c"]
        ops = [op(0, 0, 10, "a"), op(1, 10, 25, "x"), op(2, 25, 30, "ERROR Boom: no"),
               op(3, 30, 32, "a"), op(4, 32, 40, "b")]
        lat, bad = stats.closed_loop(ops, expected)
        self.assertEqual(lat, [10, 15, 5, 2, 8])
        self.assertEqual([b[0] for b in bad], [1, 2])
        self.assertEqual(bad[0][1:], ("x", "b"))


class OpenLoopTest(unittest.TestCase):

    @staticmethod
    def gen_rec(k, due_ms, visible_ms):
        return {"k": k, "due_ns": int(due_ms * 1e6),
                "visible_ns": int(visible_ms * 1e6) if visible_ms is not None else -1}

    @staticmethod
    def mb(first, last, start_ms, end_ms, answer):
        return {"op": f"mb-{first}", "first": first, "last": last,
                "start_ns": int(start_ms * 1e6), "end_ns": int(end_ms * 1e6), "answer": answer}

    def test_latency_runs_from_due_time_so_a_stall_delays_successors(self):
        # Batch 1's micro-batch stalls for 900 ms; batches 2 and 3 queue
        # behind it and are applied together. Their latency counts the wait.
        gens = [self.gen_rec(0, 0, 50), self.gen_rec(1, 100, 1000),
                self.gen_rec(2, 200, 1100), self.gen_rec(3, 300, 1100)]
        mbs = [self.mb(0, 0, 5, 50, "e0"), self.mb(1, 1, 100, 1000, "e1"),
               self.mb(2, 3, 1000, 1100, "e3")]
        lat, bad = stats.open_loop(gens, mbs, ["e0", "e1", "e2", "e3"])
        self.assertEqual(bad, [])
        self.assertEqual(lat, [50, 900, 900, 800])
        self.assertAlmostEqual(stats.trigger_wait_ms(gens, mbs), (5 + 0 + 800 + 700) / 4)

    def test_invisible_and_wrong_batches_fail(self):
        gens = [self.gen_rec(0, 0, 50), self.gen_rec(1, 100, 200), self.gen_rec(2, 200, None)]
        mbs = [self.mb(0, 0, 5, 50, "e0"), self.mb(1, 1, 150, 200, "wrong")]
        lat, bad = stats.open_loop(gens, mbs, ["e0", "e1", "e2"])
        self.assertEqual(lat, [50])
        self.assertEqual(len(bad), 2)

    def test_a_wrong_micro_batch_fails_every_batch_it_applied(self):
        gens = [self.gen_rec(k, 100 * k, 400) for k in range(3)]
        mbs = [self.mb(0, 2, 300, 400, "wrong")]
        lat, bad = stats.open_loop(gens, mbs, ["e0", "e1", "e2"])
        self.assertEqual(lat, [])
        self.assertEqual(bad, [("mb-0", "wrong", "e2")] * 3)


class ResultLineTest(unittest.TestCase):

    timed = {"p50": 100.0, "tail": (150.0, 75.0, 40), "ops_per_s": 9.5, "items_per_s": 9.5}

    def test_end_to_end_carries_every_named_metric_with_its_unit(self):
        m = stats.end_to_end(3.0, self.timed, 2048.0)
        line = stats.result_line(True, 40, 0, m, SPEC["end_to_end"])
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(line["metrics"]), [x["name"] for x in SPEC["end_to_end"]])
        for x in SPEC["end_to_end"]:
            self.assertEqual(line["metrics"][x["name"]]["unit"], x["unit"])
        self.assertEqual(line["metrics"]["setup_s"]["value"], 3.0)
        json.dumps(line)

    def test_per_layer_carries_every_named_metric(self):
        names = [x["name"] for x in SPEC["per_layer"]]
        traced = dict(self.timed, p50=110.0)
        m = stats.per_layer(names, 100.0, traced, {"tables.resolve_ms": 5.0,
                            "prepared.prepare_ms": 9.0}, {"traverse.calls": 12.0})
        line = stats.result_line(True, 80, 0, m, SPEC["per_layer"])
        self.assertEqual(list(line["metrics"]), names)
        self.assertEqual(line["metrics"]["traverse.calls"]["value"], 12.0)
        self.assertAlmostEqual(line["metrics"]["trace.overhead_frac"]["value"], 0.1)

    def test_unknown_layer_metric_is_an_error(self):
        names = [x["name"] for x in SPEC["per_layer"]]
        with self.assertRaises(ValueError):
            stats.per_layer(names, 100.0, self.timed, {}, {"traverse.cals": 1.0})

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(KeyError):
            stats.result_line(True, 1, 0, {"setup_s": 1.0}, SPEC["end_to_end"])


class AnswerModelTest(unittest.TestCase):

    def test_forest_chain_count_matches_a_path_enumeration(self):
        keys = list(range(200))
        forest = gen.Forest(keys)
        forest.set(130, "HQ")      # re-point: 130's chain moves under HQ
        forest.set(7, "HQB")       # detach: 7's chain leaves HQ
        forest.delete(3)           # delete: 3's subtree becomes unreachable
        parent = dict(forest.parent)

        def depth(k):
            d = 0
            while True:
                p = parent.get(k)
                if p is None:
                    return None
                d += 1
                if p == "HQ":
                    return d
                if p == "HQB" or not p.isdigit():
                    return None
                k = int(p)

        for limit in (1, 4, 8):
            want = sum(1 for k in parent if (d := depth(k)) is not None and d <= limit)
            self.assertEqual(forest.chain_count(limit), want)

    def test_wot_path_count_on_the_chain(self):
        keys = set(range(1, 100)) - {50}
        self.assertEqual(gen._wot(keys, 10, 15, 5), 1)
        self.assertEqual(gen._wot(keys, 10, 15, 4), 0)
        self.assertEqual(gen._wot(keys, 45, 55, 20), 0)  # chain broken at 50
        self.assertEqual(gen._wot(keys, 15, 10, 20), 0)


if __name__ == "__main__":
    unittest.main()
