"""``bench.py``'s headline, retake rule and stdout line, without Spark:
the runs are fake walls with fake host windows."""

import json

import __spark_entry__ as entry
import bench
from tools.query_profile import lost_a_core


def run(wall: float, other: float = 0.0, steal: float = 0.0) -> dict:
    return {"wall_s": wall, "steal_frac": steal, "busy_frac": other, "other_frac": other}


def test_headline_names_are_distinct_registry_queries():
    registry = entry.queries()
    assert [n for n in bench.HEADLINE if n not in registry] == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_exactly_one_lost_core_is_contended():
    assert lost_a_core({"steal_frac": 0.125, "other_frac": 0.125}, cpus=4)
    assert not lost_a_core({"steal_frac": 0.125, "other_frac": 0.1249}, cpus=4)
    assert lost_a_core({"steal_frac": 0.0, "other_frac": 0.5}, cpus=2)


def test_each_lost_core_is_retaken_once_and_the_calmer_window_kept():
    runs = {
        "a": [run(1.0), run(5.0, other=0.9), run(1.1)],
        "b": [run(2.0, other=0.5), run(1.0), run(1.2)],
        "c": [run(0.5), run(0.6), run(0.7)],
    }
    retakes = {"a": [run(1.2, other=0.01)], "b": [run(9.0, other=0.6, steal=0.2)]}
    asked = []

    def retake(name):
        asked.append(name)
        return retakes[name].pop()

    kept = bench.settle(runs, retake)
    assert asked == ["a", "b"]
    assert all(len(rs) == 3 for rs in kept.values())
    assert [r["retaken"] for r in kept["a"]] == [False, True, False]
    # the retake's window was calmer: its wall replaces the first take's
    assert kept["a"][1]["wall_s"] == 1.2 and kept["a"][1]["first"]["wall_s"] == 5.0
    # the retake's window was busier: the first take stays
    assert kept["b"][0]["wall_s"] == 2.0 and kept["b"][0]["retaken"]
    assert not any(r["retaken"] for r in kept["c"])


def test_a_tie_keeps_the_first_take():
    assert bench.calmer(run(3.0, other=0.5), run(1.0, other=0.5))["wall_s"] == 3.0


def test_contended_n_counts_slots_whose_median_run_stayed_contended():
    kept = {
        # the median run (2.0) lost a core
        "median_hot": [run(1.0), run(2.0, other=1.0), run(3.0)],
        # only the fastest and the slowest did
        "edges_hot": [run(1.0, other=1.0), run(2.0), run(3.0, other=1.0)],
        "calm": [run(1.0), run(1.0), run(1.0)],
    }
    compact, detail = bench.lines(kept, "/data/sf0.1/")
    assert compact["contended_n"] == 1
    assert detail["contended"] == ["median_hot"]
    assert compact["queries"] == {"median_hot": 2.0, "edges_hot": 2.0, "calm": 1.0}
    assert compact["value"] == 5.0 and compact["sf"] == 0.1


def test_compact_line_for_every_headline_slot_fits_the_tail_budget():
    slow = run(99.99, other=1.0)
    kept = bench.settle({n: [slow] * bench.ROUNDS for n in bench.HEADLINE}, lambda _: slow)
    compact, detail = bench.lines(kept, "/data/sf0.1")
    assert list(compact) == ["metric", "value", "unit", "queries", "sf", "contended_n"]
    assert compact["metric"] == "headline_queries_total_wall"
    assert list(compact["queries"]) == bench.HEADLINE
    assert compact["contended_n"] == len(bench.HEADLINE)
    assert len(json.dumps(compact)) < 2000
    assert all(len(rs) == bench.ROUNDS for rs in detail["runs"].values())
