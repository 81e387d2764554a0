"""profile_faces.py end to end on the test fixture: a two-face profile, a
one-pair ABBA run against this same tree, and the refusal of an unknown
face."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLI = os.path.join(ROOT, "profile_faces.py")
FACES = ["cube_measures_by_dims", "exact_dedup"]


def cli(sf_dir: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, CLI, "--sf", sf_dir, *args],
                          capture_output=True, text=True, timeout=300)


def test_profile_records(sf_dir, tmp_path):
    out = tmp_path / "profile.json"
    r = cli(sf_dir, *FACES, "--passes", "1", "--order", "reversed", "--out", str(out))
    assert r.returncode == 0, r.stderr[-2000:]
    recs = json.loads(out.read_text())["faces"]
    assert [x["face"] for x in recs] == sorted(FACES, reverse=True)
    for rec in recs:
        assert "error" not in rec, rec
        for section in ("cold", "warm"):
            s = rec[section]
            assert s["engine"]["jobs"] >= 1
            assert s["construct_py4j"] > 0
            assert s["leaked_rdds"] == 0
            assert set(s["jvm"]) == {"janino_compiles", "janino_mean_ms",
                                     "classes_loaded", "jit_ms"}
            assert "queries" in s["layers"]
        # The session's first call loads the classes later calls reuse.
        assert rec["cold"]["jvm"]["classes_loaded"] > rec["warm"]["jvm"]["classes_loaded"]
    assert sorted(os.listdir(tmp_path)) == ["profile.json"]


def test_abba_one_pair(sf_dir, tmp_path):
    out = tmp_path / "abba.json"
    r = cli(sf_dir, FACES[0], "--passes", "1", "--abba", ROOT, "--out", str(out))
    assert r.returncode == 0, r.stderr[-2000:]
    doc = json.loads(out.read_text())
    assert [run["side"] for run in doc["runs"]] == ["A", "B"]
    for run in doc["runs"]:
        assert [f["face"] for f in run["faces"]] == [FACES[0]]
    s = doc["summary"][FACES[0]]["latency_s"]
    assert s["pairs"] == 1 and s["b_wins"] in (0, 1)


def test_unknown_face_is_refused(sf_dir, tmp_path):
    r = cli(sf_dir, "no_such_face", "--out", str(tmp_path / "x.json"))
    assert r.returncode != 0
    assert "no_such_face" in r.stderr
    assert not os.listdir(tmp_path)
