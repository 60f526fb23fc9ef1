"""Query registry contract of ``__spark_entry__``: the correctness gate that
consumes it checks the FIRST 50 entries of ``queries()`` in registry order,
each against its ``oracle_sql()`` body, so a 51st entry or a missing oracle
would silently drop a correctness row."""

import __spark_entry__ as entrymod

# skipped by an earlier gate run when they sat past the 50th slot
ONCE_SKIPPED = ["streaming_window", "multimodal_features", "multimodal_frames"]


def test_registry_has_exactly_50_entries_with_oracles():
    names = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    assert len(names) == 50, len(names)
    assert names[:3] == ONCE_SKIPPED, names[:3]
    # streaming_dedup is rows-only: its oracle is the scalar replay in
    # tests/test_streaming.py, not SQL
    missing = [n for n in names if n != "streaming_dedup" and not oracles.get(n, "").strip()]
    assert missing == [], f"queries without an oracle_sql() body: {missing}"
    assert set(oracles) <= set(names), sorted(set(oracles) - set(names))
