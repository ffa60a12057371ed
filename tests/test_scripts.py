"""Every script under scripts/ compiles, and its ckg_spark imports resolve,
so a merged or deleted script or helper cannot leave a broken one behind."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import py_compile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_compiles_and_imports_resolve(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("ckg_spark"):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name) or importlib.util.find_spec(
                    f"{node.module}.{alias.name}"
                ), f"{path}: {node.module}.{alias.name}"
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("ckg_spark"):
                    importlib.import_module(alias.name)


def test_submit_passes_the_jvm_policy_to_driver_and_executors(monkeypatch, tmp_path):
    """A cluster run's driver and executors get the same JIT/GC policy as
    ``get_spark``'s local JVM. The command line is captured; nothing runs."""
    import subprocess

    from ckg_spark.session import JVM_OPTIONS

    monkeypatch.syspath_prepend(os.path.join(REPO, "scripts"))
    import submit_build

    calls = []
    monkeypatch.setattr(submit_build.tempfile, "mkdtemp", lambda prefix: str(tmp_path))
    monkeypatch.setattr(submit_build, "build_zip", lambda dest: os.path.join(dest, "ckg.zip"))
    monkeypatch.setattr(
        subprocess, "run", lambda cmd, **kw: calls.append(cmd) or subprocess.CompletedProcess(cmd, 0)
    )
    assert submit_build.submit("build_job.py", ["--pages", "p"], "local[2]") == 0
    (cmd,) = calls
    confs = [cmd[i + 1] for i, a in enumerate(cmd) if a == "--conf"]
    assert f"spark.driver.defaultJavaOptions={JVM_OPTIONS}" in confs
    assert f"spark.executor.defaultJavaOptions={JVM_OPTIONS}" in confs
    assert cmd[-3:] == [os.path.join(REPO, "scripts", "build_job.py"), "--pages", "p"]
