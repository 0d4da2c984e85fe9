"""The ``__batch_id`` store layout (streaming/batch_store.py): every
store folded through ``batch_store.fold`` — the ANN index, the Bloom
gate's fingerprint store, the attrition ledger and the LSH signature
store — follows one rule for empty, crashed, stray and corrupt
states."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tajo_spark.operators import dedup
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


def _signature_rows(spark, b):
    return spark.createDataFrame(
        [(100 * b + i, i % 2, f"h{i}") for i in range(4)],
        "doc_id BIGINT, band_id INT, bh STRING",
    )


# store -> (fold binding, partition keys above __batch_id, rows of batch b, fold key)
STORES = {
    "index": (AI.compact_index_batches, ("centroid_id",), _index_rows, ["vec_id"]),
    "gate": (SP.compact_gate_store, (), _gate_rows, ["fp"]),
    "ledger": (
        SP.compact_ledger_batches, (), _ledger_rows, ["stage", "__src_batch_id"]
    ),
    "signatures": (
        dedup.compact_signature_store, ("band_id",), _signature_rows,
        ["doc_id", "band_id", "bh"],
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


_BOILER = "shared boilerplate words repeated across near duplicate docs"
_DEDUP_WAVES = [
    [(0, _BOILER + " v1"), (1, "unique first content about engines")],
    [(10, _BOILER + " v1"), (11, "unique second content about scans")],
    [(20, _BOILER + " v1"), (21, "unique third content about shuffles")],
]


def test_dedup_and_export_batches_read_their_stores_without_an_inference_job(
    spark, tmp_path, monkeypatch
):
    # the signature store and the export ledger are read through the
    # catalog memo with the schema their writer declared.  A dedup
    # batch with a store runs 14 jobs: its store read lost the
    # inference job, its signature write gained the rebalance on
    # band_id.  An export batch with a ledger runs 12 (14 through
    # spark.read.parquet's inference and the replay probe's collect)
    from tests.conftest import jobs_of

    monkeypatch.setattr(SP, "foreach_batch", lambda _s, process, _c: process)
    streams = {
        "dedup": SP.incremental_dedup_stream(
            None, *[str(tmp_path / p) for p in ("store", "out", "ckpt")]
        ),
        "export": SP.shard_export_stream(
            None, str(tmp_path / "export"), str(tmp_path / "ckpt_e"),
            shard_bytes=1024,
        ),
    }
    frames = {
        "dedup": [
            spark.createDataFrame(w, "doc_id LONG, text STRING")
            for w in _DEDUP_WAVES
        ],
        "export": [
            spark.createDataFrame(
                [(i, 100 + 37 * i) for i in range(20 * b, 20 * b + 20)],
                "doc_id LONG, nb LONG",
            )
            for b in range(3)
        ],
    }
    counts = {}
    for name, process in streams.items():
        counts[name] = []
        for b, df in enumerate(frames[name]):
            _, jobs = jobs_of(spark, f"{name}_{b}", lambda: process(df, b))
            counts[name].append(len(jobs))
    assert counts == {"dedup": [13, 14, 14], "export": [10, 12, 12]}, counts
    out = spark.read.parquet(str(tmp_path / "out")).select("doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [0, 1, 11, 21]

    def exported():
        export = str(tmp_path / "export")
        ledger = spark.read.parquet(f"{export}/_state").collect()
        shards = spark.read.parquet(f"{export}/shards").collect()
        return (
            sorted((r.batch_id, r.base_bytes, r.total_bytes_after)
                   for r in ledger),
            sorted((r.doc_id, r.shard_id, r["__batch_id"]) for r in shards),
        )

    ledger, shards = exported()
    assert ledger == [(0, 0, 9030), (1, 9030, 32860), (2, 32860, 71490)]
    # a replay of batch 1 after batch 2 landed recomputes its base from
    # the lower batch ids and rewrites its row and shards unchanged
    streams["export"](frames["export"][1], 1)
    assert exported() == (ledger, shards)


def test_signature_store_replay_excludes_its_own_partial_batch(
    spark, tmp_path, monkeypatch
):
    # batch 1's signature write crashed after doc 11's signatures
    # landed; the replay probes the pre-batch store, so both unique
    # docs survive (probing the leftover dropped doc 11)
    monkeypatch.setattr(SP, "foreach_batch", lambda _s, process, _c: process)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    process = SP.incremental_dedup_stream(None, store, out, None)
    process(spark.createDataFrame(_DEDUP_WAVES[0], "doc_id LONG, text STRING"), 0)
    batch = spark.createDataFrame(
        [(11, "unique second content about scans"),
         (12, "unique third content about shuffles")],
        "doc_id LONG, text STRING",
    )
    leftover = dedup.banded_long(batch.filter("doc_id = 11"))
    batch_store.write(leftover, store, 1, by=("band_id",))
    process(batch, 1)
    survivors = spark.read.parquet(out).filter("__batch_id = 1")
    assert sorted(r.doc_id for r in survivors.collect()) == [11, 12]
    # the replay overwrote its own partitions: one signature set per doc
    sigs = spark.read.parquet(store)
    assert sigs.count() == sigs.dropDuplicates(["doc_id", "band_id"]).count()
    assert sorted(
        r.doc_id for r in sigs.select("doc_id").distinct().collect()
    ) == [0, 1, 11, 12]
