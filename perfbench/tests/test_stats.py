import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_nearest_rank_on_unsorted_input(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(stats.percentile(xs, 0.5), 3)
        self.assertEqual(stats.percentile(xs, 0.5, min_beyond=0), 3)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(stats.median([]))


class TimelineTest(unittest.TestCase):
    """A synthetic file timeline: files landing at known mtimes with known
    event times."""

    def test_first_arrival_takes_earliest_file_per_window(self):
        files = [(1500, [15_000, 25_000]), (1000, [1_000, 12_000]),
                 (1200, [2_000]), (900, [])]
        self.assertEqual(stats.first_arrival(files),
                         {0: 1000, 10_000: 1000, 20_000: 1500})
        self.assertEqual(stats.first_arrival(files, window_ms=20_000),
                         {0: 1000, 20_000: 1500})

    def test_dws_window_starts_map_to_themselves(self):
        files = [(30, [0, 10_000]), (20, [10_000]), (40, [20_000])]
        self.assertEqual(stats.first_arrival(files),
                         {0: 30, 10_000: 20, 20_000: 40})

    def test_reads_mtimes_and_contents_from_files(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory(dir=HERE) as root:
            dws = os.path.join(root, "dws", "visitor")
            topic = os.path.join(root, "topics", "dwm_order_wide")
            os.makedirs(dws)
            os.makedirs(topic)
            landed = [("a", ["2023-11-14 22:13:20"], 1_000),
                      ("b", ["2023-11-14 22:13:20", "2023-11-14 22:13:30"],
                       2_000)]
            for name, stts, mtime in landed:
                f = os.path.join(dws, f"part-{name}.parquet")
                pq.write_table(pa.table({"stt": stts}), f)
                os.utime(f, ns=(mtime * 1_000_000, mtime * 1_000_000))
            f = os.path.join(topic, "part-0.parquet")
            pq.write_table(pa.table({"value": [
                '{"o_create_ts":1700000000500}',
                '{"o_create_ts":1700000009000,"mid":"__sentinel"}']}), f)
            os.utime(f, ns=(3_000_000_000, 3_000_000_000))
            # hidden checksum files are not part of the table
            open(os.path.join(dws, ".part-a.parquet.crc"), "w").close()

            vis = stats.first_arrival(stats.read_dws(root, "visitor"))
            self.assertEqual(vis, {1_700_000_000_000: 1_000,
                                   1_700_000_010_000: 2_000})
            ow = stats.read_topic(root, "dwm_order_wide")
            self.assertEqual(ow, [(3_000, [1_700_000_000_500])])
            self.assertEqual(stats.first_arrival(ow),
                             {1_700_000_000_000: 3_000})


if __name__ == "__main__":
    unittest.main()
