import os

import pytest

from tmdataloader_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
FIXTURES = "/root/reference/fixtures"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tmdataloader-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def studybench():
    """The study-load benchmark's seeded study generator and warehouse
    checks (``studybench/gen.py``, ``studybench/check.py``), imported
    from their files: inputs and expected warehouse contents for
    tests that need no reference fixtures."""
    import importlib.util
    import sys
    from types import SimpleNamespace

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "studybench")
    mods = {}
    for name in ("gen", "check"):
        spec = importlib.util.spec_from_file_location(
            f"studybench_{name}", os.path.join(root, f"{name}.py")
        )
        mod = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = mod  # dataclasses resolve their module
        spec.loader.exec_module(mod)
        mods[name] = mod
    return SimpleNamespace(**mods)


# ---- scratch PostgreSQL (shared by the COPY-sink and SQL-script-runner
# tests): initdb + pg_ctl on a private unix socket, server demoted to
# nobody when running as root (postgres refuses root), torn down and
# deleted at session end.  Skips consumers when binaries are missing. ----
import shutil
import subprocess


def _as_pg_user(cmd: list[str]) -> list[str]:
    """postgres refuses to run as root — when we ARE root (this
    container), demote the SERVER processes to nobody via setpriv;
    the psql CLIENT stays root and connects over the unix socket."""
    if os.geteuid() != 0:
        return cmd
    return ["setpriv", "--reuid=nobody", "--regid=nogroup", "--clear-groups"] + cmd


@pytest.fixture(scope="session")
def pg_dsn(tmp_path_factory):
    if os.geteuid() == 0 and shutil.which("setpriv") is None:
        pytest.skip("root without setpriv — cannot demote postgres")
    import pathlib
    import tempfile

    # NOT tmp_path_factory: pytest's base temp is 0700-root, which the
    # demoted server user cannot traverse — use a world-readable tmpdir
    base = pathlib.Path(tempfile.mkdtemp(prefix="pgsink_"))
    data = base / "data"
    sock = base / "sock"
    sock.mkdir()
    if os.geteuid() == 0:
        for p in (base, sock):
            shutil.chown(p, "nobody", "nogroup")
        os.chmod(base, 0o755)
        os.chmod(sock, 0o777)
    subprocess.run(
        _as_pg_user(["initdb", "-D", str(data), "-A", "trust", "-U", "loader"]),
        check=True,
        capture_output=True,
    )
    subprocess.run(
        _as_pg_user(
            [
                "pg_ctl", "-D", str(data), "-w", "-o",
                f"-k {sock} -h '' -c fsync=off", "-l", str(base / "pg.log"),
                "start",
            ]
        ),
        check=True,
        capture_output=True,
    )
    dsn = f"host={sock} user=loader dbname=postgres"
    try:
        yield dsn
    finally:
        subprocess.run(
            _as_pg_user(["pg_ctl", "-D", str(data), "-m", "immediate", "stop"]),
            capture_output=True,
        )
        shutil.rmtree(base, ignore_errors=True)


