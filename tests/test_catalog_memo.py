"""Plan-memo invalidation semantics (catalog.invalidate, r13 review).

Mostly pure-dict tests: invalidate() operates on the module-level
memos, so these seed fake entries and assert exactly which keys
survive — no Spark session needed.
"""

import os

import pytest

from tajo_spark import catalog
from tests.conftest import SF_DIR

pytestmark = pytest.mark.usefixtures("clean_catalog_memos")


def test_invalidate_table_file_path_drops_the_table_entry():
    # tables and indexes share one memo keyed on the realpath read, so
    # invalidating a table's FILE path drops exactly that table
    catalog._PATH_MEMO[("app", "/data/sf/documents.parquet")] = object()
    catalog._PATH_MEMO[("app", "/data/sf/events.parquet")] = object()
    catalog.invalidate("/data/sf/documents.parquet")
    assert ("app", "/data/sf/documents.parquet") not in catalog._PATH_MEMO
    assert ("app", "/data/sf/events.parquet") in catalog._PATH_MEMO


def test_invalidate_sf_dir_drops_every_table_under_it():
    catalog._PATH_MEMO[("app", "/data/sf/documents.parquet")] = object()
    catalog._PATH_MEMO[("app", "/data/sf/events.parquet")] = object()
    catalog._PATH_MEMO[("app", "/data/other/events.parquet")] = object()
    catalog.invalidate("/data/sf")
    assert list(catalog._PATH_MEMO) == [("app", "/data/other/events.parquet")]


def test_load_table_keys_the_memo_on_the_table_file(spark):
    # load_table and load_parquet are one memo: the table's entry is
    # its file's realpath, so the path rule above applies to tables
    df = catalog.load_table(spark, SF_DIR, "nation")
    path = os.path.realpath(os.path.join(SF_DIR, "nation.parquet"))
    app = spark.sparkContext.applicationId
    assert list(catalog._PATH_MEMO) == [(app, path)]
    assert catalog._PATH_MEMO[(app, path)] is df
    assert catalog.load_table(spark, SF_DIR, "nation") is df
    catalog.invalidate(SF_DIR)
    assert catalog._PATH_MEMO == {}


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
