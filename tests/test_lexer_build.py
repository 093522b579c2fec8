"""How the lexer extension is built and cached (``wine_label_ocr_spark._lexer``).

Each test imports a copy of the package in a fresh interpreter with an
empty ``TMPDIR``, so the build always starts cold. The built file lives in
``$TMPDIR/wlos_lexer-<uid>/``.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import sysconfig
from pathlib import Path

import pytest

from wine_label_ocr_spark import _lexer

PKG = Path(__file__).resolve().parents[1] / "wine_label_ocr_spark"
LOAD = ("import wine_label_ocr_spark._lexer as X; "
        "assert X.normalize_ws(' a  b ') == 'a b'; print(X._ext.__file__)")


@pytest.fixture
def env(tmp_path):
    """A package copy and an empty TMPDIR under ``tmp_path``."""
    shutil.copytree(PKG, tmp_path / "pkg" / "wine_label_ocr_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    (tmp_path / "tmp").mkdir()
    # no bytecode: an edit of the same size within one second would
    # otherwise run the cached bytecode of the old source
    return {**os.environ, "PYTHONPATH": str(tmp_path / "pkg"),
            "TMPDIR": str(tmp_path / "tmp"), "PYTHONDONTWRITEBYTECODE": "1"}


def _cache(tmp_path) -> Path:
    return tmp_path / "tmp" / f"wlos_lexer-{os.getuid()}"


def _import(env):
    # `python -c` puts the working directory first on sys.path
    return subprocess.Popen([sys.executable, "-c", LOAD], env=env,
                            cwd=env["PYTHONPATH"], stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)


def _load_path(env) -> str:
    out, err = _import(env).communicate(timeout=120)
    assert err == "" and out, err
    return out.strip()


def test_build_without_compiler_fails_loudly(env, tmp_path):
    env["PATH"] = str(tmp_path / "empty")
    proc = _import(env)
    out, err = proc.communicate(timeout=120)
    assert proc.returncode != 0 and out == ""
    assert "ImportError: cannot build the lexer extension" in err, err
    assert "-fPIC" in err, err  # the failed command is named
    assert os.listdir(_cache(tmp_path)) == []


def test_source_change_names_a_new_file(env, tmp_path):
    first = _load_path(env)
    lexer = tmp_path / "pkg" / "wine_label_ocr_spark" / "_lexer.py"
    src = lexer.read_text()
    marker = "every tag that changes the lexer state"
    assert src.count(marker) == 1
    lexer.write_text(src.replace(marker, "Every tag that changes the lexer state"))
    second = _load_path(env)
    assert os.path.dirname(first) == os.path.dirname(second) == str(_cache(tmp_path))
    assert first != second
    assert sorted(os.listdir(_cache(tmp_path))) == sorted(
        [os.path.basename(first), os.path.basename(second)])


def test_racing_cold_importers_leave_one_file(env, tmp_path):
    procs = [_import(env) for _ in range(2)]
    paths = set()
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        paths.add(out.strip())
    assert len(paths) == 1
    assert os.listdir(_cache(tmp_path)) == [os.path.basename(paths.pop())]


@pytest.mark.parametrize("target", ["file", "dir", "symlink"])
def test_writable_by_others_is_refused(env, tmp_path, target):
    """A file another user could have planted or swapped at the cache
    name is never loaded: the import fails instead."""
    path = _load_path(env)
    if target == "file":
        os.chmod(path, 0o766)
    elif target == "dir":
        os.chmod(_cache(tmp_path), 0o777)
    else:
        os.replace(path, tmp_path / "elsewhere.so")
        os.symlink(tmp_path / "elsewhere.so", path)
    proc = _import(env)
    out, err = proc.communicate(timeout=120)
    assert proc.returncode != 0 and out == ""
    assert "ImportError: refusing to load the lexer extension" in err, err


def test_source_compiles_without_warnings(tmp_path):
    """Warnings are errors here, not in the import-time build, so a new
    compiler's new warning cannot stop a host from importing the oracle."""
    out = str(tmp_path / ("x" + sysconfig.get_config_var("EXT_SUFFIX")))
    cmd = _lexer._compile_command(out) + ["-Wall", "-Wextra", "-Werror"]
    proc = subprocess.run(cmd, input=_lexer._C_SOURCE.encode(),
                          capture_output=True, timeout=120)
    assert proc.returncode == 0, proc.stderr.decode(errors="replace")
