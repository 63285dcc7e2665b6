"""The query registry: the library lists operators in plain module order
and reads no repo-root record; only the entry module's ``queries()``
orders names, by one key over the driver's CORRECTNESS records."""

from __future__ import annotations

import json
import os
import re

PINNED = ["hub_lineitem", "output_feature_customer", "output_entity_union"]


def test_queries_order_over_random_histories(monkeypatch, tmp_path):
    """The reader maps each name to the round of its latest record (by
    numeric round) or -1 if that record failed; ``queries()`` keeps the
    pinned rows first, then puts never-recorded and last-failed names
    ahead of passing ones, passing names oldest record first."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import __spark_entry__ as e

    history = {
        2: {"a": {"rows_match": False}, "b": {"rows_match": True}},
        9: {"b": {"rows_match": True, "schema_match": False}},
        10: {"a": {"rows_match": True, "schema_match": None}, "c": {}},
        11: ["not", "an", "object"],
        12: {"d": {"rows_match": True, "err": "boom"}, "e": "n/a"},
    }
    for rnd, rec in history.items():  # r10 sorts before r2 as a string
        path = tmp_path / f"CORRECTNESS_r{rnd}.json"
        path.write_text(json.dumps(rec))
    (tmp_path / "CORRECTNESS_r13.json").write_text("{truncated")
    monkeypatch.setattr(e, "_REPO", str(tmp_path))
    assert e._driver_records() == (
        13, {"a": 10, "b": -1, "c": -1, "d": -1, "e": -1}
    )

    universe = sorted(e.all_queries())

    @settings(max_examples=60, deadline=None)
    @given(
        rounds=st.dictionaries(
            st.sampled_from(universe), st.integers(min_value=-1, max_value=20)
        )
    )
    def _run(rounds):
        top = max(rounds.values(), default=0)
        monkeypatch.setattr(e, "_driver_records", lambda: (top, rounds))
        names = list(e.queries())
        assert names[:3] == PINNED
        assert set(names) == set(universe)
        key = [rounds.get(n, -1) for n in names[3:]]
        passing = [r for r in key if r >= 0]
        assert key == [-1] * (len(key) - len(passing)) + passing
        assert passing == sorted(passing)

    _run()


def test_library_reads_no_record_files():
    """No module of the library names a driver record file, and the
    extension registry is each module's ``queries()`` in module order."""
    import dataforge_core_spark
    from dataforge_core_spark import operators as ops

    pkg = os.path.dirname(dataforge_core_spark.__file__)
    record = re.compile(r"CORRECTNESS_r|BENCH_r|BENCH_DETAIL")
    named = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as f:
                    named += [f"{path}:{n}" for n, line in enumerate(f, 1)
                              if record.search(line)]
    assert not named, named
    with open(ops.__file__) as f:
        assert "__file__" not in f.read()

    expected = [name for m in ops._modules() for name in m.queries()]
    assert list(ops.extension_queries()) == expected
