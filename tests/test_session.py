"""The engine session's Python worker daemon (``worker_daemon``): its zip
invalidation rule in-process, and that the session's workers run it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from raster_processor_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _install(monkeypatch) -> list[str]:
    """Install the engine rule for one test; returns the list of archives
    whose directory is read from then on."""
    # re-set the current method so monkeypatch restores it afterwards
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    reads: list[str] = []
    real = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"rps_zip_probe": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads = _install(monkeypatch)

    importer.invalidate_caches()  # no stamp yet: one read
    assert reads == [archive]
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == [archive]
    assert importer.find_spec("rps_zip_probe") is not None


def test_rewritten_zip_on_path_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"rps_zip_old": "X = 1\n"})
    reads = _install(monkeypatch)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("rps_zip_old").X == 1
        importlib.invalidate_caches()
        n = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == n, "unchanged archive was re-read"

        size = os.path.getsize(archive)
        _write_zip(archive, {"rps_zip_old": "X = 1\n", "rps_zip_new": "X = 2\n"})
        assert os.path.getsize(archive) != size
        importlib.invalidate_caches()
        assert importlib.import_module("rps_zip_new").X == 2
    finally:
        for name in ("rps_zip_old", "rps_zip_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_session_workers_skip_unchanged_zip_rereads(spark):
    def probe(it):
        import importlib
        import zipimport

        from raster_processor_spark import worker_daemon as wd

        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        patched = zipimport.zipimporter.invalidate_caches is wd.invalidate_caches
        for pdf in it:
            yield pdf.assign(patched=patched, reads=len(reads))

    rows = (
        spark.range(0, 3, 1, 3)
        .mapInPandas(probe, "id long, patched boolean, reads long")
        .collect()
    )
    assert sorted(r.id for r in rows) == [0, 1, 2]
    assert all(r.patched for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows


def test_session_workers_import_engine_from_any_cwd(tmp_path):
    """get_spark's workers find the engine daemon without the driver's cwd
    or PYTHONPATH pointing at the repository."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from raster_processor_spark.session import get_spark

        spark = get_spark(cpus=2, shuffle_partitions=2)

        def double(it):
            for pdf in it:
                yield pdf * 2

        df = spark.range(0, 4, 1, 2).mapInPandas(double, "id long")
        print(sorted(r.id for r in df.collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_PREWARM="0")
    res = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip().splitlines()[-1] == "[0, 2, 4, 6]"
