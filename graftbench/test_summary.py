"""Tests for the benchmark's summary arithmetic.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import summary
import streamgen

T0 = 1_700_000_000_000.0  # an epoch ms origin for synthetic timelines


def iso(ms):
    from datetime import datetime, timezone
    return datetime.fromtimestamp(ms / 1000, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def progress(qid, batch, start_ms, trigger_ms, rows, start_off, end_off, watermark_ms=None):
    """A raw progress event as the JVM records it."""
    p = {"id": qid, "batchId": batch, "timestamp": iso(start_ms), "numInputRows": rows,
         "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 10},
         "sources": [{"startOffset": None if start_off < 0 else {"logOffset": start_off},
                      "endOffset": {"logOffset": end_off}}],
         "stateOperators": []}
    if watermark_ms is not None:
        p["eventTime"] = {"watermark": iso(watermark_ms)}
    return {"recv_ms": start_ms + trigger_ms, "id": qid, "progress": p}


class TailTest(unittest.TestCase):
    def test_p90_when_ten_samples_lie_above_it(self):
        t = summary.tail(list(range(1, 101)))
        self.assertEqual((t["p"], t["value"], t["n"], t["above"], t["short"]), (90, 90, 100, 10, False))

    def test_highest_percentile_with_ten_above(self):
        # 40 samples: p90 leaves 4 above, p75 leaves exactly 10.
        t = summary.tail(list(range(1, 41)))
        self.assertEqual((t["p"], t["value"], t["above"], t["short"]), (75, 30, 10, False))

    def test_small_sample_reports_p90_marked_short(self):
        t = summary.tail([5.0, 1.0, 3.0, 2.0, 4.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0])
        self.assertEqual((t["p"], t["value"], t["n"], t["above"], t["short"]), (90, 15.0, 16, 1, True))

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            summary.tail([])


class StreamSummaryTest(unittest.TestCase):
    """A synthetic run: warm-up batch, two steady batches, a stop, then a
    catch-up batch after the drain command."""

    def setUp(self):
        self.marks = {"steady_ms": T0 + 1000, "stop_ms": T0 + 5000, "drain_ms": T0 + 8000}
        names = {"q-d": "durations", "q-c": "counts"}
        raw = [
            progress("q-d", 0, T0, 900, 10, -1, 0),             # warm-up
            progress("q-d", 1, T0 + 1200, 800, 20, 0, 2),       # steady: offsets 1, 2
            progress("q-d", 2, T0 + 2100, 700, 20, 2, 3),       # steady: offset 3
            progress("q-d", 3, T0 + 8100, 2000, 500, 3, 4),     # catch-up
            progress("q-c", 0, T0 + 1300, 500, 30, -1, 1, watermark_ms=T0 - 10000),
        ]
        self.bl = summary.batches(raw, names)
        self.files = [
            {"file": "w0", "phase": "warmup", "due_ms": T0 - 100, "written_ms": T0 - 99},
            {"file": "s1", "phase": "steady", "due_ms": T0 + 1000, "written_ms": T0 + 1001},
            {"file": "s2", "phase": "steady", "due_ms": T0 + 1100, "written_ms": T0 + 1102},
            {"file": "s3", "phase": "steady", "due_ms": T0 + 1900, "written_ms": T0 + 1905},
        ]
        self.fmap = {"w0": 0, "s1": 1, "s2": 2, "s3": 3}

    def test_batches_parse_offsets_commit_and_watermark(self):
        d = [b for b in self.bl if b["query"] == "durations"]
        self.assertEqual([(b["from"], b["to"]) for b in d], [(-1, 0), (0, 2), (2, 3), (3, 4)])
        self.assertAlmostEqual(d[1]["commit_ms"], T0 + 2000)
        c = [b for b in self.bl if b["query"] == "counts"][0]
        self.assertAlmostEqual(c["watermark_ms"], T0 - 10000)

    def test_phase_split_excludes_warmup_and_stop(self):
        phases = [summary.phase_of(b, self.marks) for b in self.bl if b["query"] == "durations"]
        self.assertEqual(phases, [None, "steady", "steady", "catchup"])

    def test_emit_latency_runs_from_due_time_to_commit(self):
        lat = summary.emit_latencies(self.files, self.fmap, self.bl)
        # s1 and s2 commit with batch 1 at T0+2000, s3 with batch 2 at T0+2800;
        # the warm-up file is not a sample.
        self.assertEqual([round(x) for x in lat], [1000, 900, 900])

    def test_uncommitted_steady_file_is_an_error(self):
        with self.assertRaises(ValueError):
            summary.emit_latencies(self.files + [
                {"file": "s9", "phase": "steady", "due_ms": T0 + 4000, "written_ms": T0 + 4000}],
                self.fmap, self.bl)

    def test_backlog_counts_written_unread_files_at_each_batch_start(self):
        steady = [f for f in self.files if f["phase"] == "steady"]
        d = [b for b in self.bl if b["query"] == "durations" and summary.phase_of(b, self.marks) == "steady"]
        # At T0+1200 s1 and s2 are written and unread; at T0+2100 s3 is.
        self.assertEqual(summary.backlog_at_starts(steady, self.fmap, d), [2, 1])

    def test_catch_up_ends_at_the_last_commit_with_input(self):
        raw = [progress("q-d", 3, T0 + 8100, 2000, 500, 3, 4),
               progress("q-c", 7, T0 + 8050, 1500, 500, 3, 4),
               progress("q-c", 8, T0 + 9600, 900, 0, 4, 4)]  # no input: not part of the drain
        bl = summary.batches(raw, {"q-d": "durations", "q-c": "counts"})
        self.assertAlmostEqual(summary.caught_up_ms(bl, T0 + 8000), T0 + 10100)

    def test_backlog_growth_check(self):
        self.assertFalse(summary.backlog_grows([5, 6, 5, 6, 5, 7]))
        self.assertTrue(summary.backlog_grows([5, 6, 5, 9, 12, 15]))
        self.assertTrue(summary.backlog_grows([4, 16, 20, 25, 30, 35, 40]))
        self.assertFalse(summary.backlog_grows([5, 30]))
        # A steady run whose first batch met a filling phase and whose later
        # batches wobble by a few files does not grow.
        self.assertFalse(summary.backlog_grows([5, 16, 17, 18, 16, 16, 20, 17, 15]))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time_once(self):
        spans = [
            {"id": 0, "parent": -1, "name": "query", "start_ms": 0, "end_ms": 100},
            {"id": 1, "parent": 0, "name": "construct", "start_ms": 10, "end_ms": 40},
            {"id": 2, "parent": 0, "name": "action", "start_ms": 30, "end_ms": 90},
            {"id": 3, "parent": 2, "name": "job", "start_ms": 50, "end_ms": 95},
        ]
        st = summary.self_times(spans)
        self.assertEqual(st, {"query": 20, "construct": 30, "action": 20, "job": 45})


class GeneratorTest(unittest.TestCase):
    """The generator's input must make the expected output independent of
    micro-batch boundaries."""

    def test_per_user_order_disorder_and_late_events(self):
        last_ts, rows, late_total = {}, [], 0
        for k in range(200):
            lines, late = streamgen.file_lines(7, k, 300, 0.01, last_ts)
            late_total += late
            rows += [[int(x) for x in l.split(",")[:3]] for l in lines]
        self.assertGreater(late_total, 0)
        seen = {}
        for eid, ts_us, user in rows:
            k = eid // streamgen.IDS_PER_FILE
            slot = (streamgen.EPOCH0_MS + k * streamgen.STEP_MS) * 1000
            if user >= streamgen.LATE_USER_BASE:
                self.assertLess(ts_us, slot - 60_000_000)
                self.assertNotIn(user, seen)
            else:
                self.assertGreater(ts_us, slot - streamgen.MAX_DISORDER_MS * 1000 - 1)
                self.assertGreater(ts_us, seen.get(user, -1))
            seen[user] = ts_us

    def test_files_are_staged_then_renamed_and_logged(self):
        base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "target")
        os.makedirs(base, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=base) as d:
            log = os.path.join(d, "log.jsonl")
            subprocess.run([sys.executable, streamgen.__file__, "--dir", os.path.join(d, "in"),
                            "--stage", os.path.join(d, "stage"), "--log", log, "--seed", "1",
                            "--first", "5", "--count", "3", "--events", "10",
                            "--interval-ms", "20", "--phase", "steady"], check=True)
            with open(log) as f:
                entries = [json.loads(l) for l in f]
            self.assertEqual([e["k"] for e in entries], [5, 6, 7])
            self.assertEqual(sorted(os.listdir(os.path.join(d, "in"))), [e["file"] for e in entries])
            self.assertEqual(os.listdir(os.path.join(d, "stage")), [])
            self.assertAlmostEqual(entries[2]["due_ms"] - entries[0]["due_ms"], 40, delta=1)


class BuildGuardTest(unittest.TestCase):
    def test_classes_digest_follows_class_directories_not_jars(self):
        import run
        base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "target")
        os.makedirs(base, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=base) as d:
            classes = os.path.join(d, "classes", "graft")
            os.makedirs(classes)
            cls = os.path.join(classes, "Sessions.class")
            with open(cls, "wb") as f:
                f.write(b"built from commit A")
            cp = os.pathsep.join([os.path.join(d, "classes"), os.path.join(d, "absent.jar")])
            before = run.classes_digest(cp)
            self.assertEqual(run.classes_digest(cp), before)
            # Another commit's compile into the same directory.
            with open(cls, "wb") as f:
                f.write(b"built from commit B")
            self.assertNotEqual(run.classes_digest(cp), before)


if __name__ == "__main__":
    unittest.main()
