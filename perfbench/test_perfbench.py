"""Tests of the benchmark's own parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The stream test builds the program first (perfbench/build.py) if needed.
"""
import hashlib
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build    # noqa: E402
import metrics  # noqa: E402
import stats    # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)   # 10 beyond p99
        self.assertEqual(stats.tail(list(range(999)))[0], 95.0)    # 9.99 beyond p99
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)
        self.assertIsNone(stats.tail(list(range(19))))

    def test_value_is_the_interpolated_percentile(self):
        p, v = stats.tail(list(range(1, 1001)))
        self.assertEqual(p, 99.0)
        self.assertAlmostEqual(v, stats.percentile(range(1, 1001), 99.0))
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)


class SpanSelfTime(unittest.TestCase):
    def span(self, sid, parent, start, end):
        return {"id": sid, "parent": parent, "start_ms": start, "end_ms": end}

    def test_self_time_is_duration_minus_child_coverage(self):
        spans = [self.span(1, None, 0, 100),
                 self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),  # overlap: covers 10..50
                 self.span(4, 1, 90, 120),                         # clipped to 90..100
                 self.span(5, 2, 15, 25)]                          # grandchild: not counted
        self.assertEqual(stats.self_time(spans[0], spans), 100 - 40 - 10)
        self.assertEqual(stats.self_time(spans[1], spans), 20 - 10)
        self.assertEqual(stats.self_time(spans[3], spans), 30)

    def test_no_children(self):
        s = self.span(1, None, 5, 7)
        self.assertEqual(stats.self_time(s, [s]), 2)


class LastWriteWinsFold(unittest.TestCase):
    def test_fold_and_compare(self):
        d = HERE.parent / ".bench_work" / "test-fold"
        shutil.rmtree(d, ignore_errors=True)
        topic = d / "stream" / "topic=openbmp.parsed.unicast_prefix"
        topic.mkdir(parents=True)
        line = "h1\tp1\ta1\t1\t65000\t10.0.0.0\t24\t2024-01-01 00:00:0{}.000000\t{}\t0\t\t1\t1"
        (topic / "t000000.tsv").write_text(line.format(1, 0) + "\n" + line.format(2, 1) + "\n")
        (topic / "t000001.tsv").write_text(line.format(3, 0).replace("h1", "h2") + "\n")
        rib = metrics.lww_rib([d / "bootstrap", d / "stream"])
        self.assertEqual(rib, {("p1", "h1"): (True, 1704067202000000),
                               ("p1", "h2"): (False, 1704067203000000)})
        got = d / "rib.tsv"
        got.write_text("p1\th1\ttrue\t1704067202000000\np1\th2\tfalse\t1704067203000000\n")
        self.assertEqual(metrics.rib_mismatches(rib, got), 0)
        got.write_text("p1\th1\tfalse\t1704067201000000\n")
        self.assertEqual(metrics.rib_mismatches(rib, got), 2)
        shutil.rmtree(d)


class GeneratedStream(unittest.TestCase):
    def generate(self, seed, work, mix="all-topics"):
        jar, jars = build.build()
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        subprocess.run(build.java_cmd(jar, jars, work) + [
            "--mode", "gen", "--workload", "live-churn", "--seed", str(seed), "--mix", mix,
            "--ticks", "40", "--work", str(work)], check=True, capture_output=True)

    def topics(self, d):
        return {p.parent.name.rsplit(".", 1)[-1] for p in d.rglob("*.tsv")}

    def digest(self, seed, work):
        self.generate(seed, work)
        h = hashlib.sha256()
        for f in sorted(p for p in work.rglob("*.tsv")):
            h.update(str(f.relative_to(work)).encode())
            h.update(f.read_bytes())
        shutil.rmtree(work)
        return h.hexdigest()

    def test_same_seed_same_bytes_and_holdout_seed_differs(self):
        base = HERE.parent / ".bench_work"
        a = self.digest(7, base / "test-gen-a")
        b = self.digest(7, base / "test-gen-b")
        holdout = self.digest(8, base / "test-gen-c")
        self.assertEqual(a, b)
        self.assertNotEqual(a, holdout)

    def test_prefix_only_mix_drops_l3vpn_and_ls_ticks_only(self):
        work = HERE.parent / ".bench_work" / "test-gen-mix"
        vpn_ls = {"l3vpn", "ls_node", "ls_link", "ls_prefix"}
        self.generate(7, work, "all-topics")
        self.assertLessEqual(vpn_ls, self.topics(work / "stream"))
        self.generate(7, work, "prefix-only")
        self.assertEqual(self.topics(work / "stream") & vpn_ls, set())
        self.assertLessEqual({"collector", "peer", "base_attribute", "unicast_prefix", "bmp_stat"},
                             self.topics(work / "stream"))
        self.assertLessEqual(vpn_ls, self.topics(work / "bootstrap"))
        shutil.rmtree(work)


if __name__ == "__main__":
    unittest.main()
