"""Seeded input generators for the refresh-cycle benchmark.

Everything here is a pure function of a ``numpy.random.Generator``, so
one seed gives byte-identical inputs. Generation runs in the benchmark
process, before any timed region, and uses numpy on one thread.

Each generator also returns the measured share of every input property
it controls, so a later performance claim that depends on, say, the
link repeat share can be tied to the number the run actually had.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# links (station_refresh)
# ---------------------------------------------------------------------------

_ID_ALPHABET = np.frombuffer(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_", dtype="S1")


def _video_ids(rng: np.random.Generator, n: int) -> list[str]:
    idx = rng.integers(0, len(_ID_ALPHABET), size=(n, 11))
    return _ID_ALPHABET[idx].view("S11").ravel().astype(str).tolist()


class LinkStream:
    """Per-cycle link files with repeats across cycles, plus comment and
    blank lines (the reference's links.txt shape)."""

    def __init__(self, rng, lines_per_cycle: int, repeat_share: float = 0.3,
                 comment_share: float = 0.02, blank_share: float = 0.02):
        self.rng = rng
        self.lines = lines_per_cycle
        self.repeat_share = repeat_share
        self.comment_share = comment_share
        self.blank_share = blank_share
        self.seen: list[str] = []
        self.seen_set: set[str] = set()

    def cycle(self) -> tuple[list[str], dict]:
        rng, n = self.rng, self.lines
        kind = rng.random(n)
        n_comment = int((kind < self.comment_share).sum())
        n_blank = int(((kind >= self.comment_share)
                       & (kind < self.comment_share + self.blank_share)).sum())
        n_url = n - n_comment - n_blank
        n_rep = int(round(n_url * self.repeat_share)) if self.seen else 0
        fresh = [f"https://www.youtube.com/watch?v={v}" for v in _video_ids(rng, n_url - n_rep)]
        if n_rep:
            reps = [self.seen[i] for i in rng.integers(0, len(self.seen), n_rep)]
        else:
            reps = []
        urls = fresh + reps
        lines = ([f"  {u} " if i % 7 == 0 else u for i, u in enumerate(urls)]
                 + [f"# comment {i}" for i in range(n_comment)]
                 + ["   " if i % 2 else "" for i in range(n_blank)])
        lines = [lines[i] for i in rng.permutation(len(lines))]
        n_new_distinct = len({u for u in urls if u not in self.seen_set})
        self.seen.extend(fresh)
        self.seen_set.update(fresh)
        props = {
            "lines": n,
            "comment_share": n_comment / n,
            "blank_share": n_blank / n,
            "repeat_share": 1.0 - n_new_distinct / max(n_url, 1),
        }
        return lines, props


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


# ---------------------------------------------------------------------------
# events (rollup_refresh)
# ---------------------------------------------------------------------------

#: the ``props`` JSON of an event is one of these, picked by a draw in [0, 100)
PROPS = np.array([json.dumps({"k": k}) for k in range(100)], dtype=object)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error", "share", "search", "logout")
EPOCH0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros


class EventStream:
    """Per-cycle event files: Zipf-skewed users, several event types
    and a share of late events.

    Cycle ``c`` covers event time ``[c*span, (c+1)*span)``; a late event
    is moved back by up to ``max_late_s`` so it can land behind the
    watermark of earlier cycles."""

    def __init__(self, rng, per_cycle: int, span_s: int = 6 * 3600,
                 n_users: int = 5000, zipf_a: float = 1.3, n_types: int = 6,
                 late_share: float = 0.02, max_late_s: int = 2 * 3600):
        self.rng = rng
        self.n = per_cycle
        self.span_s = span_s
        self.n_users = n_users
        self.zipf_a = zipf_a
        self.types = np.array(EVENT_TYPES[:n_types], dtype=object)
        self.late_share = late_share
        self.max_late_s = max_late_s
        self.c = 0
        self.next_id = 0

    def cycle(self) -> tuple[pa.Table, dict]:
        rng, n = self.rng, self.n
        base = EPOCH0_US + self.c * self.span_s * 1_000_000
        off = np.sort(rng.integers(0, self.span_s * 1_000_000, n))
        late = rng.random(n) < self.late_share
        off = off - late * rng.integers(0, self.max_late_s * 1_000_000, n)
        users = (rng.zipf(self.zipf_a, n) - 1) % self.n_users
        tw = 1.0 / np.arange(1, len(self.types) + 1)
        etype = self.types[rng.choice(len(self.types), n, p=tw / tw.sum())]
        cents = rng.integers(1, 50_000, n)
        table = pa.table({
            "event_id": pa.array(np.arange(self.next_id, self.next_id + n), pa.int64()),
            "ts": pa.array(base + off, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(etype.tolist(), pa.string()),
            "value": pa.array(cents / 100.0, pa.float64()),
            "props": pa.array(PROPS[rng.integers(0, 100, n)].tolist(), pa.string()),
        })
        self.c += 1
        self.next_id += n
        _, counts = np.unique(users, return_counts=True)
        top = np.sort(counts)[::-1][: max(1, self.n_users // 100)].sum()
        props = {
            "events": n,
            "late_share": float(late.mean()),
            "event_types": int(len(np.unique(etype))),
            "top1pct_user_share": float(top / n),
        }
        return table, props


# ---------------------------------------------------------------------------
# documents (the interactive workload's documents table)
# ---------------------------------------------------------------------------

WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big "
    "sort query fast dup model token shard train score chunk index page cache "
    "plan stage task node".split()
    + ["the", "a", "of", "and", "to", "in"]
)
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
#: (share, min tokens, max tokens) of short, medium and long documents
LENGTH_MIX = ((0.3, 12, 30), (0.5, 30, 80), (0.2, 80, 160))


def documents(rng, n: int, exact_share: float = 0.05,
              near_share: float = 0.05) -> tuple[pa.Table, dict]:
    """Documents with planted exact and near duplicates (copies of other
    documents of the table) and a short/medium/long length mix."""
    probs = np.array([m[0] for m in LENGTH_MIX])
    bucket = rng.choice(len(LENGTH_MIX), n, p=probs / probs.sum())
    lengths = rng.integers(np.array([m[1] for m in LENGTH_MIX])[bucket],
                           np.array([m[2] for m in LENGTH_MIX])[bucket])
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lengths]
    kind = rng.random(n)
    exact = kind < exact_share
    near = (kind >= exact_share) & (kind < exact_share + near_share)
    originals = np.flatnonzero(~(exact | near))
    for i in np.flatnonzero(exact | near):
        src = texts[originals[rng.integers(0, len(originals))]].split()
        if near[i]:
            # change ~5% of the tokens: Jaccard of bigram sets stays high
            for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = WORDS[rng.integers(0, len(WORDS))]
        texts[i] = " ".join(src)
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)].tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    props = {
        "docs": n,
        "exact_dup_share": 1.0 - len(set(texts)) / n,
        "near_dup_share": float(near.mean()),
        "short_share": float((bucket == 0).mean()),
        "long_share": float((bucket == len(LENGTH_MIX) - 1).mean()),
    }
    return table, props


# ---------------------------------------------------------------------------
# star-schema tables (interactive_queries)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["widget", "bolt", "gear", "ring", "plate", "anvil", "gizmo"]
DAY_US = 86_400_000_000
DATE0_US = 788_918_400_000_000  # 1995-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def write_tables(rng, out_dir: str, scale: float) -> dict:
    """The ten registry tables (schemas.TABLE_SCHEMAS) at ``scale``
    (1.0 ~ 6M lineitem rows), one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(50_000 * scale))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    odate = DATE0_US + rng.integers(0, 2400, n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist(),
    })
    per_order = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), per_order)
    n_li = len(l_ord)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array(odate[l_ord] + rng.integers(1, 122, n_li) * DAY_US,
                               pa.timestamp("us")),
    })
    ev_ts = EPOCH0_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES[:5])[rng.integers(0, 5, n_ev)].tolist(),
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": PROPS[rng.integers(0, 100, n_ev)].tolist(),
    })
    t["documents"], doc_props = documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {"lineitem_rows": n_li, "orders_rows": n_ord, "events_rows": n_ev, **doc_props}
