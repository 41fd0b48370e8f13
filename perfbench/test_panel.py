"""Tests of the pipeline panel sampler:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from run import eager_panel


def queries(spec):
    """{module: count} -> eager queries with distinct warm times, plus one
    lazy query that the sampler must never pick."""
    out = {"lazy_q": {"module": "A", "group": "lazy", "warm_ms": 1}}
    for m, n in spec.items():
        for i in range(n):
            out[f"{m}{i}"] = {"module": m, "group": "eager", "warm_ms": 100 + i}
    return out


class EagerPanel(unittest.TestCase):
    def test_every_module_once_then_by_share(self):
        qs = queries({"A": 12, "B": 4, "C": 1})
        # 3 beyond one each: quotas A 2.12, B 0.71, C 0.18; B's remainder wins
        panel = eager_panel(qs, 6)
        modules = [qs[n]["module"] for n in panel]
        self.assertEqual(sorted(modules), ["A", "A", "A", "B", "B", "C"])
        self.assertNotIn("lazy_q", panel)

    def test_picks_spread_over_warm_time_ranks(self):
        qs = queries({"A": 9})
        self.assertEqual(eager_panel(qs, 3), ["A1", "A4", "A7"])

    def test_too_small_for_the_modules(self):
        with self.assertRaises(ValueError):
            eager_panel(queries({"A": 2, "B": 2, "C": 2}), 2)


if __name__ == "__main__":
    unittest.main()
