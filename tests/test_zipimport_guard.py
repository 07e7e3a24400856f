"""The zipimport re-read guard installed by ``pagerank_spark.session``."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import pagerank_spark
from pagerank_spark import session
from pagerank_spark.operators.pagerank import _load_vec

needs_guard = pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 13),
    reason="CPython 3.13+ re-reads zip archives lazily; the guard is inactive",
)


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zguard_mod.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    path = str(tmp_path / "zguard.zip")
    _write_zip(path, 1)
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    sys.modules.pop("zguard_mod", None)


def _import_value():
    sys.modules.pop("zguard_mod", None)
    return importlib.import_module("zguard_mod").VALUE


@needs_guard
def test_guard_rereads_changed_archive(zip_on_path):
    assert _import_value() == 1
    importlib.invalidate_caches()
    # different content and a different size, so the key changes even
    # where the mtime resolution would hide the rewrite
    _write_zip(zip_on_path, "a longer replacement value")
    importlib.invalidate_caches()
    assert _import_value() == "a longer replacement value"


@needs_guard
def test_guard_skips_unchanged_archive(zip_on_path, monkeypatch):
    assert _import_value() == 1
    importlib.invalidate_caches()  # first guarded call reads and keys it
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in reads
    assert _import_value() == 1


@needs_guard
def test_guard_installs_once():
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded.stat_guarded
    session._guard_zip_rereads()
    session._guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert not getattr(guarded.__wrapped__, "stat_guarded", False)


@pytest.mark.parametrize("version", [(3, 9, 18), (3, 13, 0)])
def test_guard_inactive_outside_310_312(monkeypatch, version):
    unguarded = getattr(
        zipimport.zipimporter.invalidate_caches,
        "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", unguarded)
    monkeypatch.setattr(sys, "version_info", version)
    session._guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is unguarded


def test_guard_installed_in_python_workers(spark):
    # the worker must install the guard itself, by importing the package
    # while unpickling a kernel that references an engine helper — the
    # driver's patch does not reach the worker processes
    def kernel(batches):
        assert callable(_load_vec)
        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "guarded": [bool(getattr(method, "stat_guarded", False))],
                "active": [(3, 10) <= sys.version_info < (3, 13)],
            }
        )

    schema = "pid long, guarded boolean, active boolean"
    pids = spark.range(0, 4, 1, 4)
    pids.mapInArrow(kernel, schema).collect()  # warm-up job
    rows = pids.mapInArrow(kernel, schema).collect()
    assert len(rows) == 4
    assert all(r["guarded"] == r["active"] for r in rows)


def _pagerank_blocks(spark):
    from pagerank_spark.operators.pagerank import pagerank
    from pagerank_spark.testing import synth_edges

    pagerank(synth_edges(spark, n=100, e=500, seed=3), n=100, mode="blocks",
             max_iter=1)


def _anf(spark):
    from pagerank_spark.operators.anf import hyper_anf

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    hyper_anf(e, p=4, max_iter=1)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )


def _emb(spark):
    return spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5), 0.5]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )


def _dedup(spark):
    from pagerank_spark.operators.dedup import (
        minhash_bands,
        simhash_fingerprints,
    )

    minhash_bands(_docs(spark))
    simhash_fingerprints(_docs(spark))


def _lsh(spark):
    from pagerank_spark.operators.similarity import lsh_cosine_buckets

    lsh_cosine_buckets(_emb(spark), 4, nbits=3, method="kernel")


def _ivf(spark):
    from pagerank_spark.operators.similarity import ivf_index

    ivf_index(_emb(spark), n_centroids=2, iters=1)


def _semdedup(spark):
    from pagerank_spark.operators.similarity import semdedup

    semdedup(_emb(spark), n_centroids=2, iters=1)


def _features(spark):
    from pagerank_spark.operators.multimodal import (
        attach_payloads,
        extract_features,
    )

    extract_features(attach_payloads(_docs(spark)))


# call site -> (operator run, output schema, which capture of that schema)
KERNEL_SITES = {
    "block_build": (
        _pagerank_blocks, "pid int, n_edges long, n_uniq long, n_bytes long", 0
    ),
    "block_gather": (_pagerank_blocks, "dst long, s double", 0),
    "anf_pack": (_anf, "id long, sk binary", 0),
    "anf_merge": (_anf, "id long, sk binary", 1),
    "anf_estimate": (_anf, "s double", 0),
    "minhash": (_dedup, "doc_id long, band int, band_hash long", 0),
    "simhash": (_dedup, "doc_id long, simhash long", 0),
    "hyperplane": (_lsh, "vec_id long, bucket long", 0),
    "lloyd": (_ivf, "centroid int, cnt long, vsum array<double>", 0),
    "ivf_assign": (_ivf, "vec_id long, centroid int", 0),
    "semdedup_assign": (_semdedup, "vec_id long, centroid int", 0),
    "features": (
        _features,
        "asset_id long, kind string, n_bytes long, feature array<float>",
        0,
    ),
}


@pytest.fixture(scope="module")
def bound_kernels(spark):
    """The function each call site hands to ``mapInArrow``, captured by
    running its operator once with a spy on the concrete DataFrame."""
    frame_cls = type(spark.range(1))
    real = frame_cls.mapInArrow
    captured = {}
    runs = {}

    def spy(self, fn, schema, *args, **kwargs):
        captured.setdefault(schema, []).append(fn)
        return real(self, fn, schema, *args, **kwargs)

    frame_cls.mapInArrow = spy
    try:
        for run, _, _ in KERNEL_SITES.values():
            if run not in runs:
                captured.clear()
                run(spark)
                runs[run] = dict(captured)
    finally:
        frame_cls.mapInArrow = real
    return {
        site: runs[run][schema][i]
        for site, (run, schema, i) in KERNEL_SITES.items()
        if len(runs[run].get(schema, ())) > i
    }


@needs_guard
@pytest.mark.parametrize("site", sorted(KERNEL_SITES))
def test_every_kernel_installs_guard_in_cold_worker(bound_kernels, site, tmp_path):
    """Unpickling any engine kernel in a fresh interpreter imports the
    engine, so a cold Python worker installs the guard before its first
    task, whatever the kernel closes over."""
    from pyspark import cloudpickle

    assert site in bound_kernels, f"{site}: no mapInArrow kernel captured"
    path = tmp_path / "kernel.pkl"
    path.write_bytes(cloudpickle.dumps(bound_kernels[site]))
    root = os.path.dirname(os.path.dirname(pagerank_spark.__file__))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    probe = (
        "import pickle, sys, zipimport\n"
        "pickle.loads(open(sys.argv[1], 'rb').read())\n"
        "print(getattr(zipimport.zipimporter.invalidate_caches,"
        " 'stat_guarded', False))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, str(path)], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=120, check=True,
    )
    assert out.stdout.strip() == "True", out.stderr


def test_launcher_rejects_nested_kernel(spark):
    from pagerank_spark.plans.kernel import map_arrow

    def nested(batches):
        yield from batches

    with pytest.raises(ValueError, match="module-level"):
        map_arrow(spark.range(1), nested, "id long")
