"""tools/: the soak runner end to end, and one session factory.

The soak runs in a subprocess: ``getOrCreate`` in this process would hand
back the ``spark`` fixture's session and apply ``build_session``'s runtime
confs to it."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
SF = "/root/testdata/sf0.01"


def _soak(scenario: str, tmp_path: Path) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, str(REPO / "tools" / "soak.py"), scenario,
         "--sf", SF, "--copies", "3", "--cores", "2", "--json"],
        cwd=REPO, env=dict(os.environ, TMPDIR=str(tmp_path)),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _report(proc: subprocess.Popen) -> dict:
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    return json.loads(out.strip().splitlines()[-1])


def test_soak_planted_structure(tmp_path):
    # the two soaks run side by side, 2 cores each, to keep this under ~90 s
    procs = [_soak(s, tmp_path) for s in ("embed", "curation")]
    try:
        emb, cura = (_report(p) for p in procs)
    finally:
        for p in procs:
            p.kill()
            p.wait()

    n_src = pq.read_metadata(f"{SF}/embeddings.parquet").num_rows
    assert emb["n_vectors"] == 3 * n_src
    # every source's 3 copies pair up (C(3,2) = 3) and nothing else does
    assert emb["embed_near_pairs"]["pairs"] == 3 * n_src
    cl = emb["embed_clusters"]
    assert (cl["clusters"], cl["max_cluster"], cl["vectors_clustered"]) == (
        n_src, 3, 3 * n_src)

    assert cura["n_docs"] == 3 * pq.read_metadata(
        f"{SF}/documents.parquet").num_rows
    assert cura["redact_pii"]["emails"] == cura["n_docs"]
    assert cura["redact_pii"]["ips"] == cura["n_docs"]


def test_sessions_come_from_build_session():
    allowed = {"engine/spark/job.py", "bench.py", "tests/conftest.py"}
    pattern = re.compile(r"SparkSession\s*\.\s*builder")
    offenders = [
        str(p.relative_to(REPO)) for p in REPO.rglob("*.py")
        if not any(part == "dist" or part.startswith(".")
                   for part in p.relative_to(REPO).parts)
        and str(p.relative_to(REPO)) not in allowed
        and pattern.search(p.read_text(errors="replace"))]
    assert not offenders, (
        f"build sessions with engine.spark.job.build_session: {offenders}")
