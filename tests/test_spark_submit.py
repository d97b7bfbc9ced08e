"""The north-rule launch path, actually executed: package tse_spark
into a zip, `spark-submit --py-files tse_spark.zip` the build and query
entry scripts against a fresh local master, and check the index builds
and serves.  This is the only test that runs the scripts the way a
cluster would — separate driver JVM, package supplied by --py-files,
session config from spark-submit (no PYTHONPATH, no repo install)."""

import json
import os
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)


def _package(zip_path: str) -> None:
    with zipfile.ZipFile(zip_path, "w") as z:
        pkg = os.path.join(REPO, "tse_spark")
        for r, _, fs in os.walk(pkg):
            for f in fs:
                if f.endswith(".py"):
                    p = os.path.join(r, f)
                    z.write(p, os.path.relpath(p, REPO))


def _submit(args: list[str], timeout: int = 420) -> str:
    env = dict(os.environ)
    # the zip must be the ONLY way the driver/executors see the package
    env.pop("PYTHONPATH", None)
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd=REPO,
        env=env,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return res.stdout


def test_spark_submit_build_and_query(tmp_path):
    zip_path = str(tmp_path / "tse_spark.zip")
    _package(zip_path)

    from tse_spark import fixtures

    pages = fixtures.write_pages_parquet(
        str(tmp_path / "pages.parquet"), 150
    )

    out_dir = str(tmp_path / "idx")
    stdout = _submit(
        [
            "--py-files", zip_path,
            "scripts/build_index.py",
            "--pages", pages,
            "--out", out_dir,
            "--shards", "2",
            "--report",
        ]
    )
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    info = json.loads(lines[0])
    assert info["n_docs"] > 0 and info["docs_per_sec"] > 0
    assert os.path.exists(os.path.join(out_dir, "meta.json"))
    # the --report rows came through the same submit
    kinds = {json.loads(ln)["kind"] for ln in lines[1:]}
    assert {"stage", "dir"} <= kinds

    # serve a real (GB2312) query through the query script, same launch
    # mode; --queries-file because non-ASCII argv mangles under C locale
    from tse_spark import fixtures

    qfile = str(tmp_path / "q.txt")
    with open(qfile, "w", encoding="utf-8") as f:
        f.write(fixtures.gen_queries()[0][1] + "\n")
    stdout = _submit(
        [
            "--py-files", zip_path,
            "scripts/query_index.py",
            "--index", out_dir,
            "--k", "5",
            "--queries-file", qfile,
        ]
    )
    res = json.loads(
        [ln for ln in stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert len(res["results"]) > 0
    assert all(s > 0 for _, s in res["results"])


def test_spark_submit_query_flags(tmp_path):
    """Second launch-path pass: --distributed and the
    --result-cache-root tier through the same spark-submit contract
    (fresh driver JVM, package from --py-files).  Run twice with the
    same cache root: the second invocation is a COLD PROCESS whose
    repeated query must come back identical through the result cache."""
    zip_path = str(tmp_path / "tse_spark.zip")
    _package(zip_path)

    from tse_spark import fixtures

    pages = fixtures.write_pages_parquet(
        str(tmp_path / "pages.parquet"), 120
    )
    out_dir = str(tmp_path / "idx")
    _submit(
        [
            "--py-files", zip_path,
            "scripts/build_index.py",
            "--pages", pages,
            "--out", out_dir,
            "--shards", "2",
        ]
    )
    rcache = str(tmp_path / "rcache")

    def run_query(extra):
        stdout = _submit(
            [
                "--py-files", zip_path,
                "scripts/query_index.py",
                "--index", out_dir,
                "--k", "5",
                *extra,
                "web search",
            ]
        )
        return json.loads(
            [ln for ln in stdout.splitlines() if ln.startswith("{")][-1]
        )

    dist = run_query(["--distributed"])
    assert len(dist["results"]) > 0

    warm = run_query(["--result-cache-root", rcache])
    cold = run_query(["--result-cache-root", rcache])
    assert cold["results"] == warm["results"] == dist["results"]
    # the second process really read a cache entry written by the first
    assert any(
        f.endswith(".r")
        for _r, _d, fs in os.walk(rcache)
        for f in fs
    )


def test_spark_submit_merge(tmp_path):
    """X114 through the cluster launch contract: two segments built by
    separate spark-submit runs, folded by the maintain_index merge
    subcommand, served by query_index — all from the zip only."""
    zip_path = str(tmp_path / "tse_spark.zip")
    _package(zip_path)

    from tse_spark import fixtures

    pa = str(tmp_path / "pages_a.parquet")
    pb = str(tmp_path / "pages_b.parquet")
    # microsecond timestamps: Spark cannot read TIMESTAMP(NANOS)
    fixtures.gen_pages(100, start=0).to_parquet(
        pa, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    fixtures.gen_pages(80, start=100).to_parquet(
        pb, coerce_timestamps="us", allow_truncated_timestamps=True
    )

    ia, ib = str(tmp_path / "ia"), str(tmp_path / "ib")
    for pages, out, shards in ((pa, ia, "2"), (pb, ib, "3")):
        _submit(
            [
                "--py-files", zip_path,
                "scripts/build_index.py",
                "--pages", pages, "--out", out, "--shards", shards,
            ]
        )

    merged = str(tmp_path / "merged")
    stdout = _submit(
        [
            "--py-files", zip_path,
            "scripts/maintain_index.py",
            "--index", ia,
            "merge", "--with", ib, "--out", merged,
        ]
    )
    info = json.loads(
        [ln for ln in stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert info["cmd"] == "merge" and info["snapshot_id"] == 1

    with open(os.path.join(ia, "meta.json")) as f:
        na = json.load(f)["n_docs"]
    with open(os.path.join(ib, "meta.json")) as f:
        nb = json.load(f)["n_docs"]
    assert info["n_docs"] == na + nb

    qfile = str(tmp_path / "q.txt")
    with open(qfile, "w", encoding="utf-8") as f:
        f.write(fixtures.gen_queries()[0][1] + "\n")
    stdout = _submit(
        [
            "--py-files", zip_path,
            "scripts/query_index.py",
            "--index", merged, "--k", "5", "--queries-file", qfile,
        ]
    )
    res = json.loads(
        [ln for ln in stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert len(res["results"]) > 0
    assert all(s > 0 for _, s in res["results"])
