"""Contract-registry invariants that don't need Spark.

Each contract fixture states its cache file name once, in its
``_cached_parquet`` declaration.  The oracle side reads it through
``_safe_path``, which falls back to that same path when the cache
write fails (a read-only checkout).  The test below makes every write
fail and checks that each oracle still points at the file the query
side materializes, so a renamed fixture (a corpus-version bump) can
never leave an oracle reading a stale file."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import __spark_entry__ as entrymod


def test_safe_path_fallbacks_match_materializers(monkeypatch):
    read = []
    safe_path = entrymod._safe_path
    monkeypatch.setattr(entrymod, "_safe_path",
                        lambda fixture: read.append(fixture)
                        or safe_path(fixture))
    entrymod.oracle_sql()
    assert read, "no oracle reads a cached fixture"
    written = {fixture: fixture() for fixture in read}

    failed = []

    def fail_write(table, where, **kwargs):
        failed.append(where)
        raise PermissionError(where)

    monkeypatch.setattr(os.path, "exists", lambda path: False)
    monkeypatch.setattr(pq, "write_table", fail_write)
    for fixture, path in written.items():
        before = len(failed)
        assert safe_path(fixture) == path, path
        assert len(failed) == before + 1, f"{path}: no write attempted"


def test_registry_size_and_oracle_coverage():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) == 50, "driver evaluates exactly the first 50"
    assert set(oracles) <= set(qs), "oracle for a nonexistent query"
    missing = set(qs) - set(oracles)
    # only the seeded-RNG flagship is rows-only by design
    assert missing == {"extract_flagship"}, missing
