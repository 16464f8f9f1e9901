"""Tests for the benchmark's own arithmetic and checkers, on hand-built cases.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest

import inputs
import loadgen
import stats


class PercentileRule(unittest.TestCase):
    def test_tail_has_ten_samples_beyond_it(self):
        xs = list(range(1, 1001))  # 1000 samples: p99 = rank 990, 10 beyond
        v, q = stats.percentile(xs, 99)
        self.assertEqual(v, 990)
        self.assertEqual(q, 99.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_is_capped_when_samples_are_few(self):
        xs = list(range(1, 101))  # p99 would leave 1 beyond; cap at rank 90
        v, q = stats.percentile(xs, 99)
        self.assertEqual(v, 90)
        self.assertEqual(q, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_never_drops_below_the_median(self):
        xs = [5, 1, 4, 2, 3]  # no rank has 10 beyond it
        self.assertEqual(stats.percentile(xs, 99), (3, 60.0))

    def test_order_does_not_matter_and_empty_is_none(self):
        self.assertEqual(stats.percentile([3, 1, 2] * 10, 50), stats.percentile([1, 2, 3] * 10, 50))
        self.assertEqual(stats.percentile([], 99), (None, None))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(stats.median([]))


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(stats.geomean([7.5]), 7.5)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])
        with self.assertRaises(ValueError):
            stats.geomean([])


def span(i, start, end, parent=""):
    return {"id": i, "name": i.rstrip("0123456789"), "start_ns": start, "end_ns": end, "parent": parent}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        sp = [span("a", 0, 100), span("b1", 10, 30, "a"), span("b2", 50, 60, "a")]
        st = stats.self_times(sp)
        self.assertEqual(st, {"a": 70, "b1": 20, "b2": 10})

    def test_overlapping_children_count_once(self):
        sp = [span("a", 0, 100), span("b1", 10, 40, "a"), span("b2", 30, 50, "a")]
        self.assertEqual(stats.self_times(sp)["a"], 60)

    def test_children_are_clipped_to_the_parent(self):
        sp = [span("a", 10, 20), span("b1", 0, 15, "a"), span("b2", 18, 40, "a")]
        self.assertEqual(stats.self_times(sp)["a"], 3)

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        sp = [span("a", 0, 100), span("b1", 0, 50, "a"), span("c1", 0, 50, "b1")]
        st = stats.self_times(sp)
        self.assertEqual((st["a"], st["b1"], st["c1"]), (50, 0, 50))

    def test_by_name(self):
        sp = [span("a1", 0, 2_000_000), span("a2", 0, 1_000_000)]
        self.assertEqual(stats.self_time_by_name(sp), {"a": (3.0, 2)})


class Freshness(unittest.TestCase):
    def log(self):
        wm = stats.WatermarkLog()
        wm.add(100, {0: 5})
        wm.add(150, {0: 5, 1: 3})
        wm.add(200, {0: 9, 1: 3})
        wm.add(250, {0: 9, 1: 12})
        return wm

    def test_first_poll_reaching_the_offset(self):
        wm = self.log()
        self.assertEqual(wm.first_at(0, 1), 100)
        self.assertEqual(wm.first_at(0, 5), 100)
        self.assertEqual(wm.first_at(0, 6), 200)
        self.assertEqual(wm.first_at(1, 4), 250)
        self.assertIsNone(wm.first_at(0, 10))
        self.assertIsNone(wm.first_at(7, 1))

    def test_a_write_is_fresh_when_all_its_events_are(self):
        wm = self.log()
        out, unseen = stats.freshness([(90, [(0, 5), (1, 4)]), (120, [(0, 6)]), (130, [(0, 10)])], wm)
        self.assertEqual(out, [160, 80])
        self.assertEqual(unseen, [2])


class Checkers(unittest.TestCase):
    def test_dense(self):
        self.assertEqual(stats.dense_problems({0: [1, 2, 3], 1: [7]}), [])
        self.assertEqual(stats.dense_problems({0: [1, 3]}), [(0, "gap: 2 rows span 1..3")])
        self.assertEqual(stats.dense_problems({2: [1, 1, 2]}), [(2, "duplicate sequence")])

    def committed(self):
        return [(0, 1, "k1", 11), (0, 2, "k2", 22), (1, 1, "k3", 33)]

    @staticmethod
    def msgs(probs):
        return [why for _, why in probs]

    def test_exactly_once_holds(self):
        acks = [("k1", 0, 1, 11), ("k2", 0, 2, 22), ("k3", 1, 1, 33), ("k1", 0, 1, 11)]  # last: a retry
        self.assertEqual(stats.exactly_once_problems(acks, self.committed()), [])

    def test_lost_duplicated_and_unacked_rows(self):
        acks = [("k1", 0, 1, 11), ("k2", 0, 2, 22), ("k4", 1, 2, 44)]
        rows = self.committed() + [(0, 3, "k1", 11)]
        probs = stats.exactly_once_problems(acks, rows)
        self.assertIn(("k1", "key k1 committed twice"), probs)
        self.assertIn(("k4", "key k4 acknowledged but not committed"), probs)
        self.assertIn(("k3", "key k3 committed but never acknowledged"), probs)

    def test_retry_not_absorbed(self):
        acks = [("k1", 0, 1, 11), ("k1", 0, 2, 11)]
        probs = stats.exactly_once_problems(acks, [(0, 1, "k1", 11)])
        self.assertEqual(self.msgs(probs), ["key k1 acknowledged as (0, 1, 11) and as (0, 2, 11)"])

    def test_wrong_content_or_place(self):
        probs = stats.exactly_once_problems([("k1", 0, 1, 11)], [(0, 1, "k1", 12)])
        self.assertEqual(self.msgs(probs), ["key k1 committed as (0, 1, 12), acknowledged as (0, 1, 11)"])

    def test_gap_is_reported(self):
        probs = stats.exactly_once_problems([("k1", 0, 1, 11), ("k2", 0, 3, 22)],
                                            [(0, 1, "k1", 11), (0, 3, "k2", 22)])
        self.assertEqual(probs, [(None, "partition 0: gap: 2 rows span 1..3")])


class FailedOperations(unittest.TestCase):
    def test_a_request_fails_once_however_many_of_its_keys_are_wrong(self):
        keys = {"k1": [0], "k2": [0], "k3": [1]}
        bad, table = stats.failed_operations({}, [("k1", "lost k1"), ("k2", "lost k2")], keys)
        self.assertEqual((bad, table), ({0: "lost k1"}, []))

    def test_own_problem_comes_first_and_is_not_counted_twice(self):
        bad, _ = stats.failed_operations({1: "status 500"}, [("k3", "lost k3")], {"k3": [1]})
        self.assertEqual(bad, {1: "status 500"})

    def test_a_retried_key_fails_every_request_that_sent_it(self):
        bad, _ = stats.failed_operations({}, [("k1", "committed twice")], {"k1": [0, 4]})
        self.assertEqual(sorted(bad), [0, 4])

    def test_problems_no_request_carried_fail_the_table_check(self):
        probs = [(None, "partition 0: gap"), ("zz", "key zz committed but never acknowledged")]
        bad, table = stats.failed_operations({}, probs, {"k1": [0]})
        self.assertEqual((bad, table), ({}, ["partition 0: gap", "key zz committed but never acknowledged"]))


class ReadCheck(unittest.TestCase):
    REQ = {"fmt": "arrow", "partition": 3, "offset": 10}
    ARROW = "application/vnd.apache.arrow.stream"

    @staticmethod
    def arrow(parts, seqs):
        import pyarrow as pa
        t = pa.table({"sequence": pa.array(seqs, pa.int64()), "partition": pa.array(parts, pa.int32())})
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        return sink.getvalue().to_pybytes()

    def test_arrow_page_in_range(self):
        self.assertIsNone(loadgen.check_read(self.REQ, 200, self.ARROW, self.arrow([3, 3], [10, 11])))
        self.assertIsNone(loadgen.check_read(self.REQ, 200, self.ARROW, self.arrow([], [])))

    def test_arrow_page_outside_the_asked_range(self):
        self.assertEqual(loadgen.check_read(self.REQ, 200, self.ARROW, self.arrow([3, 4], [10, 11])),
                         "record outside the asked range")
        self.assertEqual(loadgen.check_read(self.REQ, 200, self.ARROW, self.arrow([3], [9])),
                         "record outside the asked range")
        self.assertEqual(loadgen.check_read(self.REQ, 200, self.ARROW, self.arrow([3] * 101, range(10, 111))),
                         "bad page size")

    def test_arrow_page_that_does_not_decode(self):
        self.assertIn("not an Arrow stream", loadgen.check_read(self.REQ, 200, self.ARROW, b"\x00junk"))
        self.assertIn("Content-Type", loadgen.check_read(self.REQ, 200, "application/json", self.arrow([3], [10])))

    def test_json_page(self):
        req = dict(self.REQ, fmt="json")
        ok = json.dumps({"count": 1, "records": [{"partition": 3, "sequence": 12}]}).encode()
        self.assertIsNone(loadgen.check_read(req, 200, "application/json", ok))
        bad = json.dumps({"count": 1, "records": [{"partition": 2, "sequence": 12}]}).encode()
        self.assertEqual(loadgen.check_read(req, 200, "application/json", bad), "record outside the asked range")
        self.assertEqual(loadgen.check_read(req, 503, "application/json", ok), "status 503")


class Inputs(unittest.TestCase):
    def test_same_seed_same_schedule(self):
        a = inputs.gateway_schedule(5, 1000, 2, 5, 1)
        b = inputs.gateway_schedule(5, 1000, 2, 5, 1)
        self.assertEqual([(t, r["path"], r["body"]) for t, r in a], [(t, r["path"], r["body"]) for t, r in b])
        c = inputs.gateway_schedule(6, 1000, 2, 5, 1)
        self.assertNotEqual([r["body"] for _, r in a], [r["body"] for _, r in c])

    def test_events_are_the_committed_rows_from_a_seeded_start(self):
        rows = inputs.events_rows()
        a, b = inputs.wire_events(3, 50), inputs.wire_events(4, 50)
        self.assertNotEqual(a[0]["event_id"], b[0]["event_id"])
        for e in a:
            eid, _, user, etype, value, _ = rows[e["event_id"]]
            if not e["retry"]:
                self.assertEqual(e["partition"], user % 8)
                self.assertEqual(json.loads(e["payload"])["event_type"], etype)
                self.assertEqual(json.loads(e["payload"])["value"], value)

    def test_retries_follow_the_event_log_rule(self):
        evs = inputs.wire_events(1, 3000)
        self.assertFalse(evs[0]["retry"])
        for i, e in enumerate(evs):
            self.assertEqual(e["retry"], e["event_id"] > 0 and e["event_id"] % 97 == 0)
            if e["retry"]:
                orig = evs[i - 1]
                self.assertEqual(orig["event_id"], e["event_id"] - 1)
                self.assertEqual((e["key"], e["partition"], e["payload"]),
                                 (orig["key"], orig["partition"], orig["payload"]))

    def test_a_wrapped_pass_keeps_keys_distinct(self):
        n = len(inputs.events_rows())
        evs = inputs.wire_events(7, n + 500)
        self.assertEqual(len({e["key"] for e in evs if not e["retry"]}), sum(1 for e in evs if not e["retry"]))

    def test_every_event_is_scheduled_once(self):
        sched = inputs.gateway_schedule(2, 1000, 3, 0, 0)
        ids = [e["event_id"] for _, r in sched for e in r.get("events", [])]
        self.assertEqual(ids, [e["event_id"] for e in inputs.wire_events(2, 3000)])
        self.assertTrue(all(a <= b for a, b in zip([t for t, _ in sched], [t for t, _ in sched][1:])))

    def test_proto_varint(self):
        self.assertEqual(inputs._varint(1), b"\x01")
        self.assertEqual(inputs._varint(300), b"\xac\x02")
        self.assertEqual(inputs.proto_event(b"x", 1, "k"), b"\x0a\x01x\x10\x01\x1a\x01k")


if __name__ == "__main__":
    unittest.main()
