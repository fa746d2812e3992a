"""The worker daemon's lazy zip-importer invalidation, without Spark.

Each check runs in a fresh interpreter so the patched ``zipimport``
never leaks into the test process.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

PYWORKER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mincemeatpy_spark",
    "pyworker",
)


def _run(script: str, *args: str) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), PYWORKER, *args],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_import_alone_installs_nothing():
    _run(
        """
        import sys, zipimport
        before = zipimport.zipimporter.invalidate_caches
        sys.path.insert(0, sys.argv[1])
        import mincemeatpy_daemon
        assert zipimport.zipimporter.invalidate_caches is before
        """
    )


def test_invalidate_is_lazy_and_rereads_on_demand(tmp_path):
    _run(
        """
        import importlib, os, sys, zipfile, zipimport
        sys.path.insert(0, sys.argv[1])
        from mincemeatpy_daemon import install_lazy_zip_invalidation
        install_lazy_zip_invalidation()

        reads = []
        real = zipimport._read_directory
        def counting(archive):
            reads.append(archive)
            return real(archive)
        zipimport._read_directory = counting

        archive = os.path.join(sys.argv[2], "lib.zip")
        def write(module):
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(module + ".py", f"NAME = {module!r}\\n")

        write("lzi_old")
        sys.path.insert(0, archive)
        import lzi_old
        assert lzi_old.NAME == "lzi_old"

        # Unchanged archive: invalidation reads nothing.  (The first
        # call may import importlib.metadata, a real import; a warm
        # worker is past it.)
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert reads == [], reads

        # Rewritten in place: the next import sees the new bytes.
        write("lzi_new")
        importlib.invalidate_caches()
        import lzi_new
        assert lzi_new.NAME == "lzi_new"

        # Deleted: a plain ImportError, and the importer still works
        # once the archive is back.
        os.remove(archive)
        importlib.invalidate_caches()
        try:
            import lzi_gone
        except ImportError as e:
            assert not isinstance(e, zipimport.ZipImportError), e
        else:
            raise AssertionError("import from a deleted archive succeeded")
        write("lzi_back")
        import lzi_back
        assert lzi_back.NAME == "lzi_back"
        """,
        str(tmp_path),
    )
