"""Self-tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import gen
import run
import stats


class TailPercentileTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p95 leaves exactly 10 above
        self.assertEqual(stats.tail_percentile(xs), (95, 190))
        xs = list(range(1, 200))  # 199: p95 leaves 9, p94 leaves 11
        self.assertEqual(stats.tail_percentile(xs), (94, 188))
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (99, 990))

    def test_small_samples(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 41))), (75, 30))
        self.assertEqual(stats.tail_percentile(list(range(1, 31))), (66, 20))
        self.assertEqual(stats.tail_percentile(list(range(1, 21))), (50, 10))
        # fewer than 20 samples: nothing leaves 10 beyond, report the maximum
        self.assertEqual(stats.tail_percentile([3, 1, 2]), (100, 3))

    def test_order_insensitive(self):
        xs = [5.0, 1.0, 9.0, 7.0] * 10
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(sorted(xs)))


class LatencyJoinTest(unittest.TestCase):
    def _checkpoint(self, root, batches, compact_at=None, no_data=()):
        """A checkpoint with one source-log entry per file and one query
        batch per source entry, committed at 1000 s + query batch id
        seconds. Query batch ids listed in `no_data` read nothing new, so
        later source entries go to later query batches."""
        src, offsets, commits = (os.path.join(root, d) for d in ("sources/0", "offsets", "commits"))
        for d in (src, offsets, commits):
            os.makedirs(d)
        b = 0
        for s, files in batches.items():
            lines = ["v1"] + [json.dumps({"path": f"file:///w/{f}", "timestamp": 0, "batchId": s})
                              for f in files]
            name = f"{s}.compact" if s == compact_at else str(s)
            with open(os.path.join(src, name), "w") as fh:
                fh.write("\n".join(lines))
            while True:
                with open(os.path.join(offsets, str(b)), "w") as fh:
                    fh.write('v1\n{"batchWatermarkMs":0}\n' + json.dumps({"logOffset": s}))
                c = os.path.join(commits, str(b))
                with open(c, "w") as fh:
                    fh.write('v1\n{"nextBatchWatermarkMs":0}')
                os.utime(c, ns=((1000 + b) * 10**9, (1000 + b) * 10**9))
                b += 1
                if b - 1 not in no_data:
                    break

    def test_files_join_to_the_commit_of_their_batch(self):
        with tempfile.TemporaryDirectory() as d:
            self._checkpoint(d, {0: ["a.csv", "b.csv"], 1: ["c.csv"]})
            generated = [{"file": f, "due_us": 999_500_000, "written_us": 999_500_000}
                         for f in ("a.csv", "b.csv", "c.csv", "late.csv")]
            lat = stats.file_latencies(d, generated)
            self.assertEqual(lat, {"a.csv": 500.0, "b.csv": 500.0, "c.csv": 1500.0,
                                   "late.csv": None})

    def test_batches_without_data_shift_the_numbering(self):
        with tempfile.TemporaryDirectory() as d:
            # query batch 1 reads nothing: source entry 1 lands in query batch 2
            self._checkpoint(d, {0: ["a.csv"], 1: ["b.csv"]}, no_data=(0,))
            generated = [{"file": f, "due_us": 1000 * 10**6, "written_us": 0}
                         for f in ("a.csv", "b.csv")]
            self.assertEqual(stats.file_latencies(d, generated), {"a.csv": 0.0, "b.csv": 2000.0})

    def test_compacted_log_and_uncommitted_batch(self):
        with tempfile.TemporaryDirectory() as d:
            self._checkpoint(d, {0: ["a.csv"], 1: ["b.csv"]}, compact_at=1)
            os.remove(os.path.join(d, "commits", "1"))
            generated = [{"file": "a.csv", "due_us": 1000 * 10**6, "written_us": 0},
                         {"file": "b.csv", "due_us": 1000 * 10**6, "written_us": 0}]
            self.assertEqual(stats.file_latencies(d, generated), {"a.csv": 0.0, "b.csv": None})

    def test_peak_backlog(self):
        generated = [{"file": str(i), "due_us": i * 10**6, "written_us": i * 10**6}
                     for i in range(4)]
        # each file waits 2.5 s: at most three are pending at a publish instant
        lat = {str(i): 2500.0 for i in range(4)}
        self.assertEqual(stats.peak_backlog(lat, generated), 3)


def _digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_stream_files_depend_only_on_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.stream_inputs(os.path.join(d, name), seed, 5, 20, 6000)
            self.assertEqual(_digest(os.path.join(d, "a")), _digest(os.path.join(d, "b")))
            self.assertNotEqual(_digest(os.path.join(d, "a")), _digest(os.path.join(d, "c")))

    def test_corpus_depends_only_on_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(os.path.join(d, "a"), 0.001)
            gen.corpus(os.path.join(d, "b"), 0.001)
            self.assertEqual(_digest(os.path.join(d, "a")), _digest(os.path.join(d, "b")))


class BuildInputsHashTest(unittest.TestCase):
    def test_changes_with_sources_not_with_build_output(self):
        with tempfile.TemporaryDirectory() as d:
            def write(rel, text):
                os.makedirs(os.path.dirname(os.path.join(d, rel)), exist_ok=True)
                with open(os.path.join(d, rel), "w") as fh:
                    fh.write(text)
            write("build.sbt", "x")
            write("src/main/scala/graft/A.scala", "object A")
            write("perfbench/src/main/scala/perfbench/B.scala", "object B")
            first = run.sources_hash(d)
            write("target/scala-2.13/classes/A.class", "bytes")
            write("perfbench/project/project/target/x", "bytes")
            write("src/test/scala/ASpec.scala", "class ASpec")
            self.assertEqual(run.sources_hash(d), first)
            for rel in ("src/main/scala/graft/A.scala", "perfbench/src/main/scala/perfbench/B.scala",
                        "build.sbt"):
                write(rel, "changed")
                self.assertNotEqual(run.sources_hash(d), first, rel)
                first = run.sources_hash(d)


if __name__ == "__main__":
    unittest.main()
