"""The ``__batch_id`` store layout (streaming/batch_store.py): every
store folded through ``batch_store.fold`` — the ANN index, the Bloom
gate's fingerprint store and the attrition ledger — follows one rule
for empty, crashed, stray and corrupt states."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tajo_spark.streaming import ann_ingest as AI
from tajo_spark.streaming import batch_store
from tajo_spark.streaming import pipeline as SP

ZEROS = {"rows_folded": 0, "rows_after": 0, "batch_dirs_removed": 0}


def _index_rows(spark, b):
    return spark.createDataFrame(
        [(100 * b + i, i % 2, [float(i)]) for i in range(4)],
        "vec_id BIGINT, centroid_id INT, q8 ARRAY<FLOAT>",
    )


def _gate_rows(spark, b):
    return spark.createDataFrame([(f"fp{b}_{i}",) for i in range(3)], "fp STRING")


def _ledger_rows(spark, b):
    return spark.createDataFrame(
        [("tiny", 10 + b, 30, b), ("kept", 90 - b, 270, b)],
        "stage STRING, n_docs BIGINT, n_tokens BIGINT, __src_batch_id BIGINT",
    )


# store -> (fold binding, partition keys above __batch_id, rows of batch b, fold key)
STORES = {
    "index": (AI.compact_index_batches, ("centroid_id",), _index_rows, ["vec_id"]),
    "gate": (SP.compact_gate_store, (), _gate_rows, ["fp"]),
    "ledger": (
        SP.compact_ledger_batches, (), _ledger_rows, ["stage", "__src_batch_id"]
    ),
}


@pytest.mark.parametrize("store", sorted(STORES))
def test_every_store_folds_by_one_rule(spark, tmp_path, store):
    compact, by, rows, key = STORES[store]

    # nothing written yet: an absent path and a pre-created directory
    # both fold to zeros instead of killing the stream
    assert compact(spark, str(tmp_path / "absent"), 5) == ZEROS
    os.makedirs(tmp_path / "precreated")
    assert compact(spark, str(tmp_path / "precreated"), 5) == ZEROS

    # batches 0..2 plus a legacy negative generation, whose directories
    # the fold deletes once the base holds its rows
    path = str(tmp_path / store)
    for b in (-13, 0, 1, 2):
        batch_store.write(rows(spark, b), path, b, by=by)
    leaf = os.path.join(path, *[f"{c}=0" for c in by])
    stray = os.path.join(leaf, "__batch_id=__HIVE_DEFAULT_PARTITION__")
    os.makedirs(stray)
    stats = compact(spark, path, 1)
    n_keys = rows(spark, 0).count()
    assert stats["rows_folded"] == stats["rows_after"] == 3 * n_keys
    assert stats["batch_dirs_removed"] > 0
    assert os.path.isdir(stray)  # skipped, not crashed on
    assert {d.batch_id for d in batch_store.batch_dirs(path)} == {-1, 2}

    # crash between the base write and the delete: batch 1's directories
    # reappear beside the folded base; the re-run collapses them
    batch_store.write(rows(spark, 1), path, 1, by=by)
    stats = compact(spark, path, 1)
    assert stats["rows_after"] == 3 * n_keys
    df = spark.read.parquet(path)
    assert df.count() == df.select(*key).distinct().count() == 4 * n_keys

    # a batch directory whose file is not parquet fails the fold
    bad = os.path.join(str(tmp_path / "corrupt"), *[f"{c}=0" for c in by],
                       "__batch_id=0")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-0.parquet"), "wb") as f:
        f.write(b"not parquet" * 8)
    with pytest.raises(Exception):
        compact(spark, str(tmp_path / "corrupt"), 0)


def test_batch_dirs_lists_both_depths_and_sizes(spark, tmp_path):
    flat, keyed = str(tmp_path / "flat"), str(tmp_path / "keyed")
    batch_store.write(_gate_rows(spark, 0), flat, 0)
    batch_store.write(_index_rows(spark, 3), keyed, 3, by=("centroid_id",))
    # a dynamic overwrite's staging directory is not a batch directory
    os.makedirs(os.path.join(keyed, ".spark-staging-1", "__batch_id=9"))
    got = batch_store.batch_dirs(flat)
    assert [(os.path.basename(d.path), d.batch_id) for d in got] == [
        ("__batch_id=0", 0)
    ]
    assert got[0].bytes == sum(
        os.path.getsize(f) for f in glob.glob(got[0].path + "/*.parquet")
    )
    assert [
        d.path[len(keyed) + 1:] for d in batch_store.batch_dirs(keyed)
    ] == ["centroid_id=0/__batch_id=3", "centroid_id=1/__batch_id=3"]


def test_gate_batch_reads_its_store_without_an_inference_job(
    spark, tmp_path, monkeypatch
):
    # the fingerprint store is read through the catalog memo with the
    # schema its writer declared: a batch with a store to confirm
    # against runs 18 jobs (19 through spark.read.parquet's inference)
    from tests.conftest import jobs_of

    monkeypatch.setattr(SP, "foreach_batch", lambda _s, process, _c: process)
    paths = [str(tmp_path / p) for p in ("filter", "fps", "admitted", "ckpt")]
    process = SP.bloom_gate_stream(None, *paths)
    waves = [
        [(0, "text alpha"), (1, "text beta")],
        [(10, "text alpha"), (11, "text gamma")],
    ]
    counts = []
    for b, wave in enumerate(waves):
        df = spark.createDataFrame(wave, "doc_id LONG, text STRING")
        _, jobs = jobs_of(spark, f"bloom_gate_{b}", lambda: process(df, b))
        counts.append(len(jobs))
    assert counts == [15, 18], counts
    admitted = spark.read.parquet(paths[2]).select("doc_id").collect()
    assert sorted(r.doc_id for r in admitted) == [0, 1, 11]
    # the replay exclusion still holds: batch 1 replayed gates against
    # the pre-batch store, not its own fingerprints
    process(spark.createDataFrame(waves[1], "doc_id LONG, text STRING"), 1)
    admitted = spark.read.parquet(paths[2]).select("doc_id").collect()
    assert sorted(r.doc_id for r in admitted) == [0, 1, 11]
