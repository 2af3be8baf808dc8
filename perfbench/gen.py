"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of ``(seed, index)``: the same
seed gives byte-identical drop files and tables, and the expected
outputs the correctness checks compare against are computed from the
very records the generator wrote, never read back from the program.

- ``behavior_drop``: one behavior-log JSONL drop (starts, pages with
  ``display``/``actions`` arrays, ~3% ``err``, ~1% malformed lines)
  with power-law ``mid``s drawn from one pool, so keys recur across
  drops.
- ``changelog_drop``: one ``topic_db`` changelog drop over configured
  dim tables (insert / update / bootstrap-insert on a bounded key
  space, so every MERGE rewrites existing rows) plus unconfigured fact
  tables and delete rows that the router must drop.
- ``doc_drop``: one document drop from ``tools/gen_scale_corpus.py``
  text, later drops mixing planted exact re-crawls, planted near-dups
  and all-new batches.
- ``write_tables``: the warehouse tables the registry queries read
  (TPC-H shaped star schema plus the scale-corpus documents,
  embeddings and events).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import sys

#: the reference renders event dates at UTC+8 (DateFormatUtil.java:21)
SHANGHAI_OFFSET_MS = 8 * 3600 * 1000
#: event time of the first behavior record: 2024-01-01 00:00 UTC+8
BEHAVIOR_T0_MS = 1_704_038_400_000
#: event time one behavior drop spans; four drops make one day, so the
#: per-day ST1/ST2 state crosses a date boundary every fourth drop
BEHAVIOR_DROP_SPAN_MS = 6 * 3600 * 1000
MID_POOL = 3_000
PAGE_IDS = ["home", "good_list", "good_detail", "cart", "trade", "payment", "search", "mine"]
ITEM_TYPES = ["sku_id", "keyword", "activity_id"]
ACTION_IDS = ["cart_add", "favor_add", "get_coupon", "cart_remove"]

#: configured dim tables: source table -> (sink table, whitelist, key
#: space). Every changelog row carries the whitelist plus extra columns
#: the projection must drop.
DIM_CONFIG = {
    "user_info": ("dim_user_info", ["id", "name", "birthday", "gender"], 1_200),
    "sku_info": ("dim_sku_info", ["id", "sku_name", "price", "spu_id"], 600),
    "base_province": ("dim_base_province", ["id", "name", "region_id"], 34),
    "base_trademark": ("dim_base_trademark", ["id", "tm_name"], 60),
}
FACT_TABLES = ["order_info", "order_detail", "cart_info", "payment_info"]
KEPT_TYPES = ("insert", "update", "bootstrap-insert")

DOC_POOL_MULT = 0.4  #: gen_scale_corpus multiplier: 2,000 pooled docs


def _rng(seed: int, kind: str, index: int) -> random.Random:
    # string seeds hash through SHA-512, so the stream is stable across
    # processes and Python versions
    return random.Random(f"perfbench:{kind}:{seed}:{index}")


def _date_utc8(ts_ms: int) -> str:
    return (
        dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ts_ms + SHANGHAI_OFFSET_MS)
    ).strftime("%Y-%m-%d")


def write_drop(src_dir: str, name: str, lines: list[str]) -> str:
    """Write a drop atomically: a file source must never list a
    half-written file, so it lands under a dot-name and is renamed."""
    os.makedirs(src_dir, exist_ok=True)
    tmp = os.path.join(src_dir, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    final = os.path.join(src_dir, name)
    os.replace(tmp, final)
    return final


# ---------------------------------------------------------------------------
# behavior log
# ---------------------------------------------------------------------------


def behavior_drop(seed: int, index: int, n_lines: int) -> tuple[list[str], dict]:
    """Lines of behavior drop ``index`` and the record-level facts the
    traffic_log check needs: per-stream split counts, the dirty count,
    and the entry pages ``(mid, ts)`` that feed the UV job."""
    rng = _rng(seed, "behavior", index)
    t0 = BEHAVIOR_T0_MS + index * BEHAVIOR_DROP_SPAN_MS
    # distinct, sorted event times inside this drop's span
    stamps = sorted(rng.sample(range(BEHAVIOR_DROP_SPAN_MS), n_lines))
    lines: list[str] = []
    facts = {"page": 0, "start": 0, "display": 0, "action": 0, "err": 0,
             "dirty": 0, "clean": 0, "entries": []}
    for off in stamps:
        ts = t0 + off
        # log-uniform rank (Zipf, s=1) over the pool: a few hot devices
        # and a long tail, every one of them recurring across drops
        mid = f"mid_{int(MID_POOL ** rng.random()) - 1}"
        common = {"mid": mid, "is_new": rng.choice("01"), "uid": str(rng.randrange(10_000)),
                  "ch": rng.choice(["xiaomi", "oppo", "web", "appstore"])}
        rec: dict = {"common": common, "ts": ts}
        if rng.random() < 0.12:
            rec["start"] = {"entry": rng.choice(["icon", "notice", "install"]),
                            "loading_time": rng.randrange(100, 20_000)}
        else:
            entry = rng.random() < 0.3
            rec["page"] = {"page_id": rng.choice(PAGE_IDS),
                           "last_page_id": None if entry else rng.choice(PAGE_IDS),
                           "during_time": rng.randrange(1_000, 30_000)}
            if rng.random() < 0.5:
                rec["display"] = [
                    {"item": str(rng.randrange(500)), "item_type": rng.choice(ITEM_TYPES),
                     "pos_id": rng.randrange(1, 20)}
                    for _ in range(rng.randrange(1, 6))
                ]
            if rng.random() < 0.2:
                rec["actions"] = [
                    {"item": str(rng.randrange(500)), "item_type": "sku_id",
                     "action_id": rng.choice(ACTION_IDS)}
                    for _ in range(rng.randrange(1, 4))
                ]
        if rng.random() < 0.03:
            rec["err"] = {"error_code": rng.randrange(1000, 4000), "msg": "exception"}
        text = json.dumps(rec, separators=(",", ":"))
        if rng.random() < 0.01:
            # truncated JSON: the parse must route it to the dirty channel
            lines.append(text[: rng.randrange(5, len(text) - 1)])
            facts["dirty"] += 1
            continue
        lines.append(text)
        facts["clean"] += 1
        if "err" in rec:
            facts["err"] += 1
        if "start" in rec:
            facts["start"] += 1
        else:
            facts["page"] += 1
            facts["display"] += len(rec.get("display") or [])
            facts["action"] += len(rec.get("actions") or [])
            if rec["page"]["last_page_id"] is None:
                facts["entries"].append((mid, ts))
    return lines, facts


def expected_uv_rows(entry_batches: list[list[tuple[str, int]]]) -> int:
    """Rows the per-day UV job (ST2) emits over these batches, in order:
    per mid, an entry page is emitted when its UTC+8 date differs from
    the date of the mid's last emitted entry."""
    last: dict[str, str] = {}
    n = 0
    for entries in entry_batches:
        for mid, ts in sorted(entries, key=lambda e: e[1]):
            day = _date_utc8(ts)
            if last.get(mid) != day:
                last[mid] = day
                n += 1
    return n


# ---------------------------------------------------------------------------
# topic_db changelog
# ---------------------------------------------------------------------------


def _dim_row(rng: random.Random, table: str, key: int, version: int) -> dict:
    row = {"id": str(key), "create_time": f"2024-01-01 00:00:{key % 60:02d}",
           "operate_time": f"v{version}"}
    if table == "user_info":
        row.update(name=f"user{key}_{rng.randrange(1000)}", birthday=f"19{rng.randrange(60, 99)}-01-01",
                   gender=rng.choice("MF"), phone_num=str(rng.randrange(10**10)))
    elif table == "sku_info":
        row.update(sku_name=f"sku{key}_{rng.randrange(1000)}", price=str(rng.randrange(1, 9999)),
                   spu_id=str(rng.randrange(100)), weight=str(rng.random()))
    elif table == "base_province":
        row.update(name=f"province{key}_{rng.randrange(1000)}", region_id=str(rng.randrange(7)),
                   iso_code=f"CN-{key}")
    else:
        row.update(tm_name=f"tm{key}_{rng.randrange(1000)}", logo_url="http://x")
    return row


def changelog_config_rows() -> list[tuple]:
    """TABLE_PROCESS_SCHEMA rows routing the configured dim tables."""
    return [(src, sink, ",".join(cols), "id", None) for src, (sink, cols, _) in DIM_CONFIG.items()]


def changelog_drop(seed: int, index: int, n_lines: int) -> tuple[list[str], list[tuple]]:
    """Lines of changelog drop ``index`` plus ``(table, type, data)``
    for every line in arrival order, for the last-write-wins check."""
    rng = _rng(seed, "changelog", index)
    tables = list(DIM_CONFIG)
    lines: list[str] = []
    events: list[tuple] = []
    for j in range(n_lines):
        r = rng.random()
        if r < 0.25:
            # unconfigured fact table: must be dropped by the router
            table = rng.choice(FACT_TABLES)
            kind = rng.choice(["insert", "update"])
            data = {"id": str(rng.randrange(100_000)), "total_amount": str(rng.randrange(10_000))}
        else:
            table = rng.choices(tables, weights=[5, 3, 1, 1])[0]
            key = rng.randrange(DIM_CONFIG[table][2])
            kind = rng.choices(
                ["insert", "update", "bootstrap-insert", "delete"], weights=[3, 5, 1, 1]
            )[0]
            data = _dim_row(rng, table, key, index * n_lines + j)
        rec = {"database": "gmall", "table": table, "type": kind, "data": data,
               "ts": 1_704_067_200 + index * n_lines + j}
        if kind == "update":
            rec["old"] = {"operate_time": "prev"}
        lines.append(json.dumps(rec, separators=(",", ":")))
        events.append((table, kind, data))
    return lines, events


def expected_dim_tables(events: list[tuple]) -> dict[str, dict[str, tuple]]:
    """Last write wins per (table, id) over the kept types, projected to
    each whitelist: {sink_table: {id: whitelisted values}}."""
    out: dict[str, dict[str, tuple]] = {sink: {} for sink, _, _ in DIM_CONFIG.values()}
    for table, kind, data in events:
        if table not in DIM_CONFIG or kind not in KEPT_TYPES:
            continue
        sink, cols, _ = DIM_CONFIG[table]
        out[sink][data["id"]] = tuple(data.get(c) for c in cols)
    return out


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------


def _scale_corpus_module():
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import gen_scale_corpus

    return gen_scale_corpus


def doc_pool(seed: int, scratch_dir: str) -> list[str]:
    """Texts of the seeded scale corpus (planted " dup" near-dups every
    20th doc), generated through ``tools/gen_scale_corpus.py``."""
    import numpy as np
    import pyarrow.parquet as pq

    gsc = _scale_corpus_module()
    os.makedirs(scratch_dir, exist_ok=True)
    gsc.gen_documents(scratch_dir, DOC_POOL_MULT, np.random.default_rng(seed), n_files=1)
    return pq.read_table(os.path.join(scratch_dir, "documents.parquet"))["text"].to_pylist()


def doc_drop(
    seed: int, index: int, n_docs: int, pool: list[str], sent: list[str]
) -> tuple[list[str], dict]:
    """Documents of drop ``index``. Even drops are all-new slices of the
    pool; odd drops mix new text with planted exact re-crawls and
    near-dups of texts already sent. ``sent`` is every text sent before
    this drop, in order (the caller appends this drop's texts).

    Returns the JSONL lines and the facts: ``docs`` as (doc_id, text)
    and ``recrawl_ids``, the planted exact re-crawls."""
    rng = _rng(seed, "docs", index)
    docs: list[tuple[int, str]] = []
    recrawl: list[int] = []
    base = index * 10_000
    for j in range(n_docs):
        doc_id = base + j
        r = rng.random()
        if index % 2 == 1 and sent and r < 0.3:
            docs.append((doc_id, rng.choice(sent)))
            recrawl.append(doc_id)
        elif index % 2 == 1 and sent and r < 0.45:
            docs.append((doc_id, rng.choice(sent) + f" edit{index}"))
        else:
            # the pool cycles; a suffix keeps every cycle's text new
            k = len(sent) + j
            docs.append((doc_id, f"{pool[k % len(pool)]} c{k // len(pool)}"))
    lines = [json.dumps({"doc_id": d, "text": t}, separators=(",", ":")) for d, t in docs]
    return lines, {"docs": docs, "recrawl_ids": recrawl}


def expected_doc_statuses(drops: list[list[tuple[int, str]]]) -> dict[int, str]:
    """Classify every doc the way the history-dedup ingest must: a digest
    seen in an earlier drop is ``dup_history``, a later copy within one
    drop is ``dup_batch``, the lowest doc_id of a new digest is ``new``."""
    seen: set[str] = set()
    out: dict[int, str] = {}
    for docs in drops:
        first: dict[str, int] = {}
        for doc_id, text in sorted(docs):
            h = hashlib.md5(text.encode("utf-8")).hexdigest()
            if h in seen:
                out[doc_id] = "dup_history"
            elif h in first:
                out[doc_id] = "dup_batch"
            else:
                first[h] = doc_id
                out[doc_id] = "new"
        seen.update(first)
    return out


# ---------------------------------------------------------------------------
# warehouse tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_tables(out_dir: str, seed: int, n_orders: int = 15_000) -> dict[str, int]:
    """Write the ten registry tables as parquet under ``out_dir`` with
    the column names and types the registry queries read. Sizes follow
    the 0.01 scale: 15,000 orders, ~4 lineitems each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 10), n_orders * 2 // 15
    day0 = np.datetime64("1995-01-01", "us")
    day_us = 86_400_000_000

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(n, span):
        return (day0 + rng.integers(0, span, n) * day_us).astype("datetime64[us]")

    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": money(1000, 500_000, n_orders),
            "o_orderdate": days(n_orders, 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }),
    }
    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    part_keys = rng.integers(0, n_part, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), per_order), pa.int64()),
        "l_partkey": pa.array(part_keys, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * tables["part"]["p_retailprice"].to_numpy()[part_keys], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days(n_li, 2499),
    })
    counts = {}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    gsc = _scale_corpus_module()
    corpus_rng = np.random.default_rng(seed)
    mult = n_orders / 150_000
    counts["documents"] = gsc.gen_documents(out_dir, mult, corpus_rng, n_files=1)
    counts["embeddings"] = gsc.gen_embeddings(out_dir, mult, corpus_rng, n_files=1)
    counts["events"] = gsc.gen_events(out_dir, mult, corpus_rng, n_files=1)
    return counts
