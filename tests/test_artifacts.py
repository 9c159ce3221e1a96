"""The offline artifact build graph (artifacts.prebuild_indexes).

The concurrent build must produce exactly what each builder produces
alone on the caller's thread, tag every job with the caller's job group,
and keep each artifact's _BUILT-written-last contract when one builder
fails.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from lab_etl_batch_data_processing_pipeline__spark import artifacts
from lab_etl_batch_data_processing_pipeline__spark.operators import similarity
from lab_etl_batch_data_processing_pipeline__spark.registry import SF0001 as SF

GROUP = "artifact-graph-test"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="sf0.001 testdata not generated"
)


def _tables(root: str) -> dict[str, str]:
    """Every parquet dataset under ``root``, keyed by its relative path.
    A partitioned dataset counts once, at its ``cell=`` parent."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        if os.path.basename(dirpath).startswith("cell="):
            continue
        if any(f.endswith(".parquet") for f in filenames) or any(
            d.startswith("cell=") for d in dirnames
        ):
            out[os.path.relpath(dirpath, root)] = dirpath
    return out


def _files(root: str, name: str) -> dict[str, str]:
    """Relative path -> content of every file called ``name`` under root."""
    out = {}
    for dirpath, _, filenames in os.walk(root):
        if name in filenames:
            with open(os.path.join(dirpath, name)) as fh:
                out[os.path.relpath(dirpath, root)] = fh.read()
    return out


def _rows(spark, path: str):
    df = spark.read.parquet(path)
    return df.schema, sorted(repr(tuple(r)) for r in df.collect())


def _listener_settled(spark) -> None:
    # job-start events reach the status store through the async listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One cache root filled by the concurrent prebuild under a job group,
    one filled by every builder run alone on this thread, in graph order."""
    concurrent = str(tmp_path_factory.mktemp("concurrent"))
    sequential = str(tmp_path_factory.mktemp("sequential"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    _listener_settled(spark)
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(GROUP, GROUP)
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(artifacts, "_REPO_ROOT", concurrent)
            artifacts.prebuild_indexes(spark, SF)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    _listener_settled(spark)
    jobs = {
        "group": set(tracker.getJobIdsForGroup(GROUP)),
        "ungrouped": set(tracker.getJobIdsForGroup(None)) - ungrouped_before,
    }

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(artifacts, "_REPO_ROOT", sequential)
        for build in artifacts._BUILD_GRAPH:
            build(spark, SF)
    return {"concurrent": concurrent, "sequential": sequential, "jobs": jobs}


def test_concurrent_build_equals_sequential_builders(spark, built):
    conc, seq = built["concurrent"], built["sequential"]
    tables = _tables(conc)
    # ann_gt, pq x2, ivf x2, ivfpq x3, token sketch, minhash sigs x2
    assert len(tables) == 11, sorted(tables)
    assert sorted(tables) == sorted(_tables(seq))
    for rel, path in tables.items():
        assert _rows(spark, path) == _rows(spark, os.path.join(seq, rel)), rel
    built_markers = _files(conc, "_BUILT")
    assert len(built_markers) == 7, sorted(built_markers)
    assert built_markers == _files(seq, "_BUILT")
    weights = _files(conc, "weights.json")
    assert len(weights) == 1
    assert {k: json.loads(v) for k, v in weights.items()} == {
        k: json.loads(v) for k, v in _files(seq, "weights.json").items()
    }


def test_ivfpq_from_shared_ivf_equals_inline(spark, built, tmp_path):
    """prebuild hands build_ivfpq_index the materialized IVF index (and the
    PQ codebooks/codes); an IVFPQ fitted entirely inline is value-equal."""
    p = artifacts._IVFPQ_PARAMS
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(artifacts, "_REPO_ROOT", built["concurrent"])
        shared_dir = artifacts._ivfpq_index_dir(SF)
    inline_dir = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(
        artifacts._t(spark, SF, "embeddings"), inline_dir,
        nlist=p["nlist"], m=p["m"], ksub=p["ksub"], seed=p["seed"],
        max_iter=p["max_iter"], deterministic=p["deterministic"],
    )
    for part in ("coded", "centroids", "codebooks"):
        assert _rows(spark, os.path.join(shared_dir, part)) == _rows(
            spark, os.path.join(inline_dir, part)
        ), part


def test_build_threads_inherit_callers_job_group(built):
    jobs = built["jobs"]
    assert jobs["group"], "the build submitted no job under the caller's group"
    assert not jobs["ungrouped"], sorted(jobs["ungrouped"])


def test_failed_builder_is_reraised_and_others_finish(spark, tmp_path):
    def boom(*args, **kwargs):
        raise RuntimeError("quality fit failed")

    root = str(tmp_path)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(artifacts, "_REPO_ROOT", root)
        mp.setattr(artifacts.quality, "train_quality_classifier", boom)
        with pytest.raises(RuntimeError, match="quality fit failed"):
            artifacts.prebuild_indexes(spark, SF)
        assert not os.path.exists(
            os.path.join(artifacts._quality_weights_dir(SF), "_BUILT")
        )
        finished = [
            artifacts._pq_index_dir(SF),
            artifacts._ivf_index_dir(SF),
            artifacts._ivfpq_index_dir(SF),
            artifacts._toksketch_dir(SF),
        ] + [
            artifacts._minhash_sig_dir(SF, **v)
            for v in artifacts._MINHASH_SIG_VARIANTS
        ]
        for d in finished:
            assert os.path.isfile(os.path.join(d, "_BUILT")), d
    assert glob.glob(os.path.join(root, ".cache", "ann_gt", "*", "_SUCCESS"))
