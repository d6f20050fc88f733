from __future__ import annotations

import hashlib
import os

import lakegen


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(d, n), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _counts(b: lakegen.Backlog):
    return (b.lines, b.corrupt, b.dups, b.late, b.bad_status, b.bytes)


def test_same_seed_same_bytes_and_defects(tmp_path):
    a = lakegen.generate(str(tmp_path / "a"), 11, 3000, 3)
    b = lakegen.generate(str(tmp_path / "b"), 11, 3000, 3)
    assert _digest(a.root) == _digest(b.root)
    assert _counts(a) == _counts(b)
    c = lakegen.generate(str(tmp_path / "c"), 12, 3000, 3)
    assert _digest(c.root) != _digest(a.root)


def test_every_defect_kind_is_planted(tmp_path):
    b = lakegen.generate(str(tmp_path / "a"), 3, 20000, 2)
    for short in lakegen.TOPICS:
        assert b.corrupt[short] > 0
        assert b.dups[short] > 0
        assert b.late[short] > 0
        assert len(os.listdir(b.topic_dir(short))) == 2
    assert b.bad_status > 0
    assert b.events == sum(b.lines.values())


def test_reference_sees_the_planted_defects(tmp_path):
    b = lakegen.generate(str(tmp_path / "a"), 5, 6000, 2)
    ref = lakegen.reference(b)
    for short in lakegen.TOPICS:
        assert ref["corrupt"][short] == b.corrupt[short]
        assert ref["valid_rows"][short] == b.lines[short] - b.corrupt[short]
        assert ref["silver_rows"][short] == ref["valid_rows"][short] - b.dups[short]
    assert ref["bad_status"] == b.bad_status
    n_sessions, n_clicks = ref["sessions"]
    assert n_clicks == ref["silver_rows"]["clicks"]
    assert 0 < n_sessions <= n_clicks
    assert {d for d, _, _ in ref["revenue"]} == {"2024-03-01", "2024-03-02"}
