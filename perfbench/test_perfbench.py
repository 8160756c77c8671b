"""Self-tests for the benchmark's own logic (no JVM, no Spark).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_canal  # noqa: E402
import gen_tables  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        a, fa = gen_canal.paced_files(7, 12)
        b, fb = gen_canal.paced_files(7, 12)
        self.assertEqual(a, b)
        self.assertEqual(fa.changes, fb.changes)
        self.assertNotEqual(a, gen_canal.paced_files(8, 12)[0])
        self.assertEqual(gen_canal.backlog_files(7, 3000, 500)[0],
                         gen_canal.backlog_files(7, 3000, 500)[0])
        self.assertEqual(gen_canal.dimension(7), gen_canal.dimension(7))
        t1, t2 = gen_tables.tables(7, 0.001), gen_tables.tables(7, 0.001)
        self.assertTrue(all(t1[k].equals(t2[k]) for k in t1))
        self.assertFalse(t1["lineitem"].equals(gen_tables.tables(8, 0.001)["lineitem"]))

    def test_every_change_to_a_meeting_is_later(self):
        _, feed = gen_canal.backlog_files(3, 5000, 500)
        last = {}
        for mid, _, es, _ in feed.changes:
            self.assertGreater(es, last.get(mid, -1))
            last[mid] = es

    def test_paced_files_hold_the_rate(self):
        files, _ = gen_canal.paced_files(5, 10, per_file=500)
        self.assertTrue(all(sum(n for _, n in f) == 500 for f in files))


class ReplayTest(unittest.TestCase):

    def row(self, mid, code, room):
        return {"id": str(mid), "meeting_code": code, "address_id": str(room)}

    def test_hand_built_insert_update_delete(self):
        dim = [(1, "room-1", 10, "location-10", "city-a"), (2, "room-2", 20, "location-20", "city-b")]
        changes = [
            (1, "INSERT", 1, self.row(1, "a", 1)),
            (2, "INSERT", 2, self.row(2, "b", 2)),
            (1, "UPDATE", 3, self.row(1, "a2", 2)),
            (2, "DELETE", 4, self.row(2, "b", 2)),
            (3, "INSERT", 5, self.row(3, "c", 99)),  # no such room: left join keeps nulls
            (4, "UPDATE", 7, self.row(4, "d2", 1)),
            (4, "INSERT", 6, self.row(4, "d", 2)),   # older, arrives later: loses
            (5, "INSERT", 8, self.row(5, "e", 1)),
            (5, "DELETE", 9, self.row(5, "e", 1)),
            (5, "INSERT", 10, self.row(5, "e3", 1)),  # re-insert after delete
        ]
        self.assertEqual(gen_canal.replay(changes, dim), [
            ("1", "a2", "2", "room-2", "location-20", "city-b"),
            ("3", "c", None, None, None, None),
            ("4", "d2", "1", "room-1", "location-10", "city-a"),
            ("5", "e3", "1", "room-1", "location-10", "city-a"),
        ])

    def test_replay_agrees_with_generator_state(self):
        _, feed = gen_canal.paced_files(11, 20)
        got = {r[0]: r[1] for r in gen_canal.replay(feed.changes, gen_canal.dimension(11))}
        self.assertEqual(got, {str(m): r["meeting_code"] for m, r in feed.row.items()})

    def test_table_mismatches_counts_by_key(self):
        path = os.path.join(tempfile.mkdtemp(), "t.tsv")
        with open(path, "w") as fh:
            fh.write(gen_canal.tsv([("1", "a", None), ("2", "b", "x")]))
        self.assertEqual(run.table_mismatches(path, [("1", "a", None), ("2", "b", "y")]), 1)
        self.assertEqual(run.table_mismatches(path, [("1", "a", None)]), 1)
        shutil.rmtree(os.path.dirname(path))


class AttributionTest(unittest.TestCase):

    def test_cumulative_rows_prefix(self):
        self.assertEqual(stats.attribute(10, [(3, 100.0), (4, 200.0), (2, 300.0)]),
                         [100.0] * 3 + [200.0] * 4 + [300.0] * 2 + [None])

    def test_latency_from_due_time_through_prefix(self):
        # two measured files after two warm-up files; lines carry 1, 0 or 2 changes
        files = [[("w", 5)], [("w", 5)], [("a", 1), ("noise", 0)], [("b", 2)]]
        h = {"ready": 1000.0, "cpu_ms": 30.0,
             "commits": [{"batch": 0, "commit": 50.0}, {"batch": 1, "commit": 1300.0},
                         {"batch": 2, "commit": 1700.0}],
             "progress": [{"batch": 0, "rows": 2, "start": 0.0, "duration": {}},
                          {"batch": 1, "rows": 2, "start": 1000.0, "duration": {}},
                          {"batch": 2, "rows": 1, "start": 1500.0, "duration": {}}],
             "moves": [{"file": 2, "due": 1000.0, "moved": 1001.0},
                       {"file": 3, "due": 1250.0, "moved": 1251.0}],
             "dashboard": [{"ms": 3.0, "ok": True}]}
        s = run.stream_half(h, files, 13, paced=True)
        self.assertEqual(s["missing"], 0)
        # file 2's change commits with batch 1 (300 ms); file 3's two with batch 2 (450 ms)
        self.assertEqual(s["latency_p50_ms"], 450.0)
        self.assertEqual(s["latency_tail"], (None, 0.0, 3))
        self.assertEqual(s["cpu_ms_per_op"], 10.0)  # over the three measured changes

    def test_backlog_latency_is_each_batch_own(self):
        # the backlog is all due at start; a change waits only for its own batch
        files = [[("a", 1), ("b", 1)], [("c", 2)]]
        h = {"t0": 0.0, "cpu_ms": 8.0,
             "commits": [{"batch": 0, "commit": 400.0}, {"batch": 1, "commit": 1000.0}],
             "progress": [{"batch": 0, "rows": 2, "start": 100.0, "duration": {}},
                          {"batch": 1, "rows": 1, "start": 500.0, "duration": {}}]}
        s = run.stream_half(h, files, 4, paced=False)
        # batch 0 holds two changes at 300 ms, batch 1 two at 500 ms
        self.assertEqual(s["latency_p50_ms"], 300.0)
        self.assertEqual(s["ops_per_s"], 4 / 0.9)
        self.assertEqual(s["cpu_ms_per_op"], 2.0)


class PercentileTest(unittest.TestCase):

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(999)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(19))), (None, 0.0))
        self.assertEqual(stats.tail([]), (None, 0.0))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile(list(range(1, 101)), 99), 99)


class BenchmarkJsonTest(unittest.TestCase):

    def test_names_and_units_match_the_output(self):
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         [(n, run.unit_of(n)) for n in run.PER_LAYER])


class OracleTest(unittest.TestCase):

    def test_digest_ignores_column_order(self):
        self.assertEqual(oracle.digest(["b", "a"], [(1, 2.0)]), oracle.digest(["a", "b"], [(2.0, 1)]))
        self.assertNotEqual(oracle.digest(["a"], [(1,), (2,)]), oracle.digest(["a"], [(2,), (1,)]))


if __name__ == "__main__":
    unittest.main()
