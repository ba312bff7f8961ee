"""Tests of the benchmark's own statistics, run without Spark:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import metrics
import streamgen


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, p, n = metrics.tail(xs)
        self.assertEqual((p, n), (90, 100))
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_percentile_falls_as_samples_shrink(self):
        v, p, n = metrics.tail(list(range(51)))
        self.assertEqual((p, n), (80, 51))
        self.assertGreaterEqual(sum(1 for x in range(51) if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_ten_or_fewer_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        span = {"start_ms": 0.0, "end_ms": 100.0}
        kids = [{"start_ms": 10.0, "end_ms": 40.0}, {"start_ms": 30.0, "end_ms": 50.0},
                {"start_ms": 90.0, "end_ms": 130.0}]  # clipped at the parent's end
        self.assertAlmostEqual(metrics.self_ms(span, kids), 100 - 40 - 10)

    def test_no_children(self):
        self.assertEqual(metrics.self_ms({"start_ms": 5.0, "end_ms": 7.5}, []), 2.5)


class PhaseGapTest(unittest.TestCase):
    def test_gap_is_the_wall_the_phases_miss(self):
        root = {"start_ms": 0.0, "end_ms": 100.0}
        phases = [{"start_ms": 1.0, "end_ms": 60.0}, {"start_ms": 60.0, "end_ms": 70.0},
                  {"start_ms": 72.0, "end_ms": 99.0}]
        self.assertAlmostEqual(metrics.phase_gap(root, phases), 0.04)
        self.assertEqual(metrics.phase_gap(root, []), 1.0)

    def test_micro_batch_gap(self):
        p = {"durationMs": {"triggerExecution": 200, "addBatch": 150, "walCommit": 40}}
        self.assertAlmostEqual(metrics.batch_phase_gap(p), 0.05)


def write_checkpoint(root, source_log, offsets, commits):
    """A minimal Structured Streaming checkpoint: the file source's log
    ({log offset: [file]}), the offsets log ({batch: end log offset}) and
    the commit log ({batch: epoch ms})."""
    for d in ("sources/0", "offsets", "commits"):
        os.makedirs(os.path.join(root, d))
    for k, files in source_log.items():
        with open(os.path.join(root, "sources/0", str(k)), "w") as f:
            f.write("v1\n" + "".join(json.dumps(
                {"path": f"file:///in/{n}", "timestamp": 0, "batchId": k}) + "\n"
                for n in files))
    for b, end in offsets.items():
        with open(os.path.join(root, "offsets", str(b)), "w") as f:
            f.write('v1\n{"batchWatermarkMs":0}\n' + json.dumps({"logOffset": end}) + "\n")
    for b, ms in commits.items():
        p = os.path.join(root, "commits", str(b))
        with open(p, "w") as f:
            f.write("v1\n{}\n")
        os.utime(p, ns=(int(ms * 1e6), int(ms * 1e6)))
        open(os.path.join(root, "commits", f".{b}.crc"), "w").close()


class LatencyJoinTest(unittest.TestCase):
    def test_chunks_join_to_the_batch_that_read_them(self):
        with tempfile.TemporaryDirectory() as ckpt:
            # batch 1 reads nothing new (a no-data batch); batch 2 reads
            # log offsets 1 and 2; batch 3 is re-run after a restart and
            # keeps its offsets
            write_checkpoint(
                ckpt,
                source_log={0: ["a"], 1: ["b", "c"], 2: ["d"], 3: ["e"]},
                offsets={0: 0, 1: 0, 2: 2, 3: 3},
                commits={0: 1000.0, 1: 1500.0, 2: 3000.0, 3: 4200.0})
            batch_of = metrics.file_batches(ckpt)
            self.assertEqual(batch_of, {"a": 0, "b": 2, "c": 2, "d": 2, "e": 3})
            commits = metrics.commit_times(ckpt)
            self.assertEqual(sorted(commits), [0, 1, 2, 3])
            chunks = [{"file": "b", "due_ms": 2000.0, "landed_ms": 2001.0},
                      {"file": "d", "due_ms": 2500.0, "landed_ms": 2502.0},
                      {"file": "e", "due_ms": 3500.0, "landed_ms": 3500.0},
                      {"file": "z", "due_ms": 4000.0, "landed_ms": 4000.0}]
            lat = metrics.chunk_latencies(chunks, batch_of, commits)
            self.assertEqual([round(l) if l is not None else None for l in lat],
                             [1000, 500, 700, None])
            backlog = metrics.backlog_samples(chunks, batch_of, commits)
            # at batch 2's commit e has not landed; at batch 3's, z has
            # landed but no batch has read it
            self.assertEqual([n for _, n in backlog], [0, 0, 0, 1])

    def test_backlog_counts_landed_unread_files(self):
        chunks = [{"file": "x", "landed_ms": 10.0}, {"file": "y", "landed_ms": 20.0}]
        samples = metrics.backlog_samples(chunks, {"x": 1, "y": 2}, {0: 25.0, 1: 30.0, 2: 40.0})
        self.assertEqual([n for _, n in samples], [2, 1, 0])


class HostScaleTest(unittest.TestCase):
    def test_times_are_scaled_to_the_reference_host(self):
        # the reference job ran at half the reference speed; one sample
        # slowed further by something else is outvoted by the median
        ref = [(2 * metrics.REF_CPU_S, 2 * metrics.REF_WALL_S)] * 2 + [(9.0, 9.0)]
        passes = [{"traced": False, "wall_s": w, "cpu_s": 2 * w, "ext_busy": 0.0,
                   "queries": [{"name": "a", "wall_s": w / 4},
                               {"name": "b", "wall_s": 3 * w / 4}]}
                  for w in (12.0, 10.0)]
        e2e, diag = metrics.batch_end_to_end({"passes": passes, "reference": ref})
        self.assertEqual((diag["host_cpu_scale"], diag["host_wall_scale"]), (0.5, 0.5))
        self.assertAlmostEqual(e2e["wall_s"], 5.0)
        self.assertAlmostEqual(e2e["cpu_s"], 10.0)
        self.assertAlmostEqual(e2e["query_tail_s"], 3.75)
        self.assertAlmostEqual(e2e["sustained_eps"], 2 / 5.0)
        self.assertEqual(diag["unscaled_wall_s"], 10.0)


class SustainedRateTest(unittest.TestCase):
    def test_median_of_burst_events_over_drain_time(self):
        with tempfile.TemporaryDirectory() as ckpt:
            # burst0 (b, c) lands at 2000 ms and is read by batch 1,
            # committed at 4500 ms; burst1 (d) by batch 2 at 6000 ms,
            # burst2 (e) by batch 3 at 10000 ms
            write_checkpoint(ckpt, source_log={0: ["a"], 1: ["b"], 2: ["c"], 3: ["d"],
                                               4: ["e"]},
                             offsets={0: 0, 1: 2, 2: 3, 3: 4},
                             commits={0: 1500.0, 1: 4500.0, 2: 6000.0, 3: 10000.0})
            chunks = [
                {"file": "a", "segment": "rung0", "events": 10, "due_ms": 1000.0,
                 "landed_ms": 1000.0},
                {"file": "b", "segment": "burst0", "events": 300, "due_ms": 2000.0,
                 "landed_ms": 2000.0},
                {"file": "c", "segment": "burst0", "events": 200, "due_ms": 2000.0,
                 "landed_ms": 2001.0},
                {"file": "d", "segment": "burst1", "events": 500, "due_ms": 5000.0,
                 "landed_ms": 5000.0},
                {"file": "e", "segment": "burst2", "events": 500, "due_ms": 8000.0,
                 "landed_ms": 8000.0}]
            raw = {"chunks": chunks, "checkpoint": ckpt, "first_timed_ms": 0.0,
                   "segments": [{"name": "rung0", "rate": 2000}], "ref_segment": "rung0",
                   "progress": [], "timed": {"cpu_s": 1.0, "ext_busy": 0.0}}
            e2e, diag = metrics.stream_metrics(raw)
            self.assertEqual(diag["burst_drain_ms"], [2500.0, 1000.0, 2000.0])
            self.assertAlmostEqual(e2e["sustained_eps"], 500 / 2.0)
            self.assertAlmostEqual(e2e["latency_p50_ms"], 500.0)
            self.assertAlmostEqual(e2e["wall_s"], 10.0)


class ScheduleTest(unittest.TestCase):
    def test_seed_sets_sizes_not_shape(self):
        a = streamgen.plan(1, 12, [2000, 16000])
        b = streamgen.plan(1, 12, [2000, 16000])
        c = streamgen.plan(2, 12, [2000, 16000])
        self.assertEqual(a, b)
        self.assertNotEqual([x["events"] for x in a], [x["events"] for x in c])
        self.assertEqual([(x["segment"], x["due_off_ms"]) for x in a],
                         [(x["segment"], x["due_off_ms"]) for x in c])

    def test_segments_carry_their_rate_exactly(self):
        cps = streamgen.CHUNKS_PER_S
        chunks = streamgen.plan(3, 10, [2000, 16000])
        for name, rate, share in streamgen.segments([2000, 16000]):
            sizes = [c["events"] for c in chunks if c["segment"] == name]
            self.assertEqual(len(sizes), round(10 * share * cps))
            self.assertEqual(sum(sizes), rate * len(sizes) / cps)
            self.assertTrue(all(0.4 * rate / cps <= x <= 1.6 * rate / cps for x in sizes))

    def test_bursts_land_at_once_after_the_ladder(self):
        chunks = streamgen.plan(4, 10, [2000, 16000])
        due = max(c["due_off_ms"] for c in chunks if c["segment"] == "restart")
        for k in range(streamgen.BURSTS):
            burst = [c for c in chunks if c["segment"] == f"burst{k}"]
            self.assertEqual(len(burst), streamgen.BURST_FILES)
            self.assertEqual(sum(c["events"] for c in burst), streamgen.BURST_EVENTS)
            self.assertEqual({c["due_off_ms"] for c in burst}, {due + streamgen.BURST_GAP_MS})
            due += streamgen.BURST_GAP_MS

    def test_reference_rung_runs_longest_before_the_restart(self):
        segs = streamgen.segments([2000, 16000])
        self.assertEqual([s[0] for s in segs], ["rung1", "rung0", "restart"])
        self.assertAlmostEqual(sum(s[2] for s in segs), 1.0)
        self.assertEqual(segs[1][2], 2 * segs[0][2])
        self.assertEqual(segs[2][1], 2000)


if __name__ == "__main__":
    unittest.main()
