"""Plan-memo invalidation semantics (catalog.invalidate, r13 review).

Pure-dict tests: invalidate() operates on the module-level memos, so
these seed fake entries and assert exactly which keys survive — no
Spark session needed.
"""

import pytest

from tajo_spark import catalog


@pytest.fixture(autouse=True)
def _clean_memos():
    saved_t = dict(catalog._TABLE_MEMO)
    saved_p = dict(catalog._PATH_MEMO)
    saved_s = dict(catalog._PATH_SCHEMA)
    catalog._TABLE_MEMO.clear()
    catalog._PATH_MEMO.clear()
    catalog._PATH_SCHEMA.clear()
    yield
    catalog._TABLE_MEMO.clear()
    catalog._TABLE_MEMO.update(saved_t)
    catalog._PATH_MEMO.clear()
    catalog._PATH_MEMO.update(saved_p)
    catalog._PATH_SCHEMA.clear()
    catalog._PATH_SCHEMA.update(saved_s)


def test_invalidate_table_file_path_drops_the_table_entry():
    # table memos key on (app, sf_dir, name); the documented contract
    # is that invalidating the table's FILE path works
    catalog._TABLE_MEMO[("app", "/data/sf", "documents")] = object()
    catalog._TABLE_MEMO[("app", "/data/sf", "events")] = object()
    catalog.invalidate("/data/sf/documents.parquet")
    assert ("app", "/data/sf", "documents") not in catalog._TABLE_MEMO
    assert ("app", "/data/sf", "events") in catalog._TABLE_MEMO


def test_invalidate_sf_dir_drops_every_table_under_it():
    catalog._TABLE_MEMO[("app", "/data/sf", "documents")] = object()
    catalog._TABLE_MEMO[("app", "/data/sf", "events")] = object()
    catalog._TABLE_MEMO[("app", "/data/other", "events")] = object()
    catalog.invalidate("/data/sf")
    assert list(catalog._TABLE_MEMO) == [("app", "/data/other", "events")]


def test_invalidate_is_path_separator_aware_on_siblings():
    # /data/idx must NOT match the sibling /data/idx_v2
    catalog._PATH_MEMO[("app", "/data/idx")] = object()
    catalog._PATH_MEMO[("app", "/data/idx_v2")] = object()
    catalog.invalidate("/data/idx")
    assert ("app", "/data/idx") not in catalog._PATH_MEMO
    assert ("app", "/data/idx_v2") in catalog._PATH_MEMO


def test_invalidate_file_inside_memoized_dir_drops_the_dir_listing():
    # rewriting one file under a memoized directory stales the whole
    # pinned listing — containment must match in both directions
    catalog._PATH_MEMO[("app", "/data/idx")] = object()
    catalog.invalidate("/data/idx/part-0.parquet")
    assert catalog._PATH_MEMO == {}


def test_invalidate_with_schema_records_it_and_without_drops_it():
    # a writer hands over the schema it wrote; the plan memo is still
    # dropped.  A later schema-less invalidation of a related path
    # (an unknown writer) forgets it, siblings untouched.
    catalog._PATH_MEMO[("app", "/data/idx")] = object()
    catalog.invalidate("/data/idx", schema="S1")
    assert catalog._PATH_MEMO == {}
    assert catalog._PATH_SCHEMA == {"/data/idx": "S1"}
    catalog.invalidate("/data/idx_v2", schema="S2")
    catalog.invalidate("/data/idx/centroid_id=0")
    assert catalog._PATH_SCHEMA == {"/data/idx_v2": "S2"}
