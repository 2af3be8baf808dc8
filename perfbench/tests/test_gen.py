"""The generators are pure functions of the seed."""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

from perfbench import gen


def _drop_bytes(tmp_path, name, lines):
    return open(gen.write_drop(str(tmp_path), name, lines), "rb").read()


def test_behavior_drop_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _drop_bytes(tmp_path, "a", gen.behavior_drop(7, 3, 300)[0])
    b = _drop_bytes(tmp_path, "b", gen.behavior_drop(7, 3, 300)[0])
    c = _drop_bytes(tmp_path, "c", gen.behavior_drop(8, 3, 300)[0])
    assert a == b
    assert a != c


def test_behavior_drop_covers_the_record_mix():
    lines, facts = gen.behavior_drop(1, 0, 2_000)
    assert len(lines) == 2_000
    assert facts["clean"] + facts["dirty"] == 2_000
    for key in ("page", "start", "display", "action", "err", "dirty"):
        assert facts[key] > 0, key
    assert facts["entries"]


def test_changelog_drop_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _drop_bytes(tmp_path, "a", gen.changelog_drop(7, 2, 300)[0])
    b = _drop_bytes(tmp_path, "b", gen.changelog_drop(7, 2, 300)[0])
    c = _drop_bytes(tmp_path, "c", gen.changelog_drop(9, 2, 300)[0])
    assert a == b
    assert a != c


def test_changelog_drop_mixes_kept_dropped_and_rewritten_rows():
    _, events = gen.changelog_drop(1, 0, 1_000)
    kinds = {k for _, k, _ in events}
    assert {"insert", "update", "bootstrap-insert", "delete"} <= kinds
    assert {t for t, _, _ in events} & set(gen.FACT_TABLES)
    dims = [(t, d["id"]) for t, k, d in events if t in gen.DIM_CONFIG and k in gen.KEPT_TYPES]
    assert len(set(dims)) < len(dims)  # keys are reused, so MERGEs rewrite rows


def test_expected_dim_tables_is_last_write_wins_over_kept_types():
    events = [
        ("user_info", "insert", {"id": "1", "name": "a", "birthday": "x", "gender": "M", "extra": "e"}),
        ("user_info", "update", {"id": "1", "name": "b", "birthday": "x", "gender": "M"}),
        ("user_info", "delete", {"id": "1", "name": "c", "birthday": "x", "gender": "M"}),
        ("order_info", "insert", {"id": "1"}),
    ]
    got = gen.expected_dim_tables(events)
    assert got["dim_user_info"] == {"1": ("1", "b", "x", "M")}
    assert got["dim_sku_info"] == {}


def test_doc_drops_same_seed_same_bytes_and_plant_duplicates(tmp_path):
    pool = gen.doc_pool(5, str(tmp_path / "corpus"))
    assert pool == gen.doc_pool(5, str(tmp_path / "corpus2"))

    def drops(seed):
        sent, out, recrawls = [], [], []
        for i in range(3):
            lines, facts = gen.doc_drop(seed, i, 200, pool, sent)
            sent.extend(t for _, t in facts["docs"])
            out.append(lines)
            recrawls += facts["recrawl_ids"]
        return out, recrawls

    a, recrawls = drops(5)
    assert a == drops(5)[0]
    assert a != drops(6)[0]
    assert recrawls
    statuses = gen.expected_doc_statuses(
        [[(d["doc_id"], d["text"]) for d in map(json.loads, lines)] for lines in a]
    )
    assert all(statuses[d] == "dup_history" for d in recrawls)


def test_write_tables_same_seed_same_content(tmp_path):
    def digest(seed, sub):
        out = str(tmp_path / sub)
        gen.write_tables(out, seed, n_orders=600)
        h = hashlib.sha256()
        for name in sorted(os.listdir(out)):
            h.update(name.encode())
            h.update(str(pq.read_table(os.path.join(out, name)).to_pylist()).encode())
        return h.hexdigest()

    assert digest(3, "a") == digest(3, "b")
    assert digest(3, "a") != digest(4, "c")
