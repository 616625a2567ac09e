"""Seeded input generators owned by the benchmark.

Every input a workload reads is made here from the run's ``--seed`` with numpy
and pyarrow only, so no edit to the program under test can change a workload.
``digest`` fingerprints each written input so two runs can show that they
read identical bytes.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_TS_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z
_ROLES = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["bash", "search", "calculator", "browser"])
_PAD = "lorem ipsum dolor sit amet "
OOO_BACK_S = 3600     # an out-of-order event's timestamp is up to this much early
TURNS = 20            # turns per conversation
HOT_SHARE = 0.9       # share of tail events on recently opened conversations
# the dedup corpus
CORPUS_VOCAB = 4000
CORPUS_DUP_FRAC = 0.1
CORPUS_PARTIAL_FRAC = 0.05
CORPUS_WORDS = (20, 80)
# the contract's documents table
DOCS_VOCAB = 31
DOCS_DUP_FRAC = 0.05

FEED_SCHEMA = pa.schema([
    pa.field("lsn", pa.int64(), nullable=False),
    pa.field("op", pa.string(), nullable=False),
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])


def _conv_names(ids: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise("conv-", pc.cast(pa.array(ids), pa.string()), "")


def feed_table(
    rng: np.random.Generator,
    lsn0: int,
    conv_ids: np.ndarray,
    ooo_frac: float = 0.1,
    op_mix: tuple[float, float, float] = (0.70, 0.25, 0.05),
) -> pa.Table:
    """Change events ``lsn0+1 .. lsn0+len(conv_ids)`` for the given conversations.

    One event per second of event time; ``ooo_frac`` of them carry a timestamp
    up to ``OOO_BACK_S`` seconds earlier, and every tenth repeats its predecessor's
    second, so the (ts, lsn) tie-break is exercised. Deletes carry no payload.
    """
    n = len(conv_ids)
    lsn = np.arange(lsn0 + 1, lsn0 + n + 1, dtype=np.int64)
    turn = rng.integers(0, TURNS, n).astype(np.int32)
    u = rng.random(n)
    op = np.where(u < op_mix[0], "I", np.where(u < op_mix[0] + op_mix[1], "U", "D"))
    back = np.where(rng.random(n) < ooo_frac, rng.integers(0, OOO_BACK_S, n), 0)
    back = back + (rng.random(n) < 0.1)
    ts = BASE_TS_US + (lsn - back) * 1_000_000
    conv = _conv_names(conv_ids)
    is_del = pa.array(op == "D")
    role = _ROLES[turn % 4]
    tool = np.where(role == "tool", _TOOLS[rng.integers(0, 4, n)], None)
    pad = pc.binary_repeat(pa.array([_PAD] * n), pa.array(rng.integers(1, 9, n)))
    text = pc.binary_join_element_wise(
        "turn ", pc.cast(pa.array(turn), pa.string()), " of ", conv,
        " v", pc.cast(pa.array(lsn), pa.string()), "  padding: ", pad, "",
    )
    null_s = pa.nulls(n, pa.string())
    return pa.table(
        [
            pa.array(lsn), pa.array(op), conv, pa.array(turn),
            pc.if_else(is_del, null_s, pa.array(role)),
            pc.if_else(is_del, null_s, text),
            pc.if_else(is_del, null_s, pa.array(tool, pa.string())),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=FEED_SCHEMA,
    )


def seed_state(seed: int, n_convs: int) -> pa.Table:
    """Insert events that open ``n_convs`` conversations of ``TURNS`` turns
    each — the table a tail workload starts from (one event per key)."""
    rng = np.random.default_rng([seed, 2])
    conv_ids = np.repeat(np.arange(n_convs), TURNS)
    t = feed_table(rng, 0, conv_ids, ooo_frac=0.0, op_mix=(1.0, 0.0, 0.0))
    turns = np.tile(np.arange(TURNS, dtype=np.int32), n_convs)
    return t.set_column(3, "turn_idx", pa.array(turns))


def tail_tick(seed: int, tick: int, lsn0: int, n_events: int, first_conv: int,
              window: int, new_per_tick: int) -> pa.Table:
    """One tick of the recency-skewed tail: ``HOT_SHARE`` of the events land on
    the ``window`` most recently opened conversations (``new_per_tick`` open
    each tick), the rest on any older conversation."""
    rng = np.random.default_rng([seed, 3, tick])
    newest = first_conv + (tick + 1) * new_per_tick
    recent = rng.integers(max(newest - window, 0), newest, n_events)
    cold = rng.integers(0, max(newest - window, 1), n_events)
    conv_ids = np.where(rng.random(n_events) < HOT_SHARE, recent, cold)
    return feed_table(rng, lsn0, conv_ids)


# ------------------------------------------------------------------ corpus

def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


def corpus(seed: int, n_docs: int) -> pa.Table:
    """Documents ``doc_id, text``: random word sequences over a
    ``CORPUS_VOCAB``-word vocabulary, plus ``CORPUS_DUP_FRAC`` near-duplicates,
    each a copy of an earlier document with one or two words replaced (word
    3-gram Jaccard about 0.8-0.95), and ``CORPUS_PARTIAL_FRAC`` partial copies
    that keep the first half to two thirds of an earlier document (Jaccard
    about 0.2-0.5): candidates a filter should reject."""
    rng = np.random.default_rng([seed, 4])
    words = _vocab(rng, CORPUS_VOCAB)
    docs: list[list[str]] = []
    for i in range(n_docs):
        u = rng.random() if i > 10 else 1.0
        if u < CORPUS_DUP_FRAC:
            src = list(docs[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 3))):
                src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
            docs.append(src)
        elif u < CORPUS_DUP_FRAC + CORPUS_PARTIAL_FRAC:
            src = docs[int(rng.integers(0, i))]
            keep = src[: int(len(src) * rng.uniform(0.5, 0.67))]
            docs.append(keep + [str(w) for w in words[rng.integers(0, len(words), len(src) - len(keep))]])
        else:
            k = int(rng.integers(CORPUS_WORDS[0], CORPUS_WORDS[1] + 1))
            docs.append([str(w) for w in words[rng.integers(0, len(words), k)]])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array([" ".join(d) for d in docs]),
    })


def contract_documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Contract-style documents: 10-100 words over a ``DOCS_VOCAB``-word
    vocabulary, with ``DOCS_DUP_FRAC`` near-duplicates of earlier documents that differ in case and
    spacing or by one appended word — word 3-gram Jaccard of 0.9 or more,
    the property the contract's approximate-dedup oracles rely on."""
    words = _vocab(rng, DOCS_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < DOCS_DUP_FRAC:
            src = texts[int(rng.integers(0, i))].split()
            if len(src) >= 20 and rng.random() < 0.3:
                texts.append(" ".join(src + [str(words[rng.integers(0, len(words))])]))
            else:
                texts.append("  ".join(src).upper() if rng.random() < 0.5 else " ".join(src) + " ")
        else:
            texts.append(" ".join(str(w) for w in words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": pa.array(texts)})


# ------------------------------------------------------------------ contract tables

CONTRACT_TABLES = ["events", "lineitem", "part", "documents", "embeddings"]


def contract_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The tables the contract queries read (``events lineitem part documents
    embeddings``), with the column names and types of the contract's test
    data. ``scale`` 1.0 gives the row counts of its sf0.1 set."""
    rng = np.random.default_rng([seed, 5])
    n_ev, n_li, n_part = int(100_000 * scale), int(600_000 * scale), int(20_000 * scale)
    n_users = max(int(1_500 * scale), 10)
    ev_ts = BASE_TS_US + np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    ev_types = np.array(["click", "view", "purchase", "signup", "error"])
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.random(n_ev) * 200, 2)),
        "props": pc.binary_join_element_wise(
            '{"k": ', pc.cast(pa.array(rng.integers(0, 100, n_ev)), pa.string()), "}", ""),
    })
    n_orders = max(n_li // 4, 1)
    ship = np.datetime64("1992-01-01") + rng.integers(0, 10 * 365, n_li).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, max(n_part // 20, 1), n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.random(n_li) * 100_000, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    adj = np.array(["large", "small", "hot", "cold", "shiny", "plain"])
    noun = np.array(["ring", "bolt", "gear", "nut", "pipe", "valve"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pc.binary_join_element_wise(
            pa.array(adj[rng.integers(0, 6, n_part)]), pa.array(noun[rng.integers(0, 6, n_part)]), " "),
        "p_brand": pc.binary_join_element_wise(
            "Brand#", pc.cast(pa.array(rng.integers(1, 26, n_part)), pa.string()), ""),
        "p_type": pa.array(np.array(["LARGE", "SMALL", "ECONOMY", "PROMO"])[rng.integers(0, 4, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.random(n_part) * 1000, 1)),
    })
    docs = contract_documents(rng, max(int(5_000 * scale), 50))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    n_docs = docs.num_rows
    documents = docs.append_column("lang", pa.array(langs[rng.integers(0, 5, n_docs)]))
    documents = documents.append_column(
        "source", pc.binary_join_element_wise("src", pc.cast(pa.array(rng.integers(0, 5, n_docs)), pa.string()), ""))
    documents = documents.append_column("n_chars", pc.cast(pc.utf8_length(documents["text"]), pa.int64()))
    n_vec = max(int(2_000 * scale), 20)
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return {"events": events, "lineitem": lineitem, "part": part,
            "documents": documents, "embeddings": embeddings}


# ------------------------------------------------------------------ I/O

def write(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``
    (split in row order, so a feed sorted by lsn is range-partitioned)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def digest(table: pa.Table) -> str:
    """Content hash of a table (schema + every value, in row order)."""
    h = hashlib.sha256(str(table.schema).encode())
    for batch in table.to_batches():
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, batch.schema) as w:
            w.write_batch(batch)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def digest_strings(parts: list[str]) -> str:
    """One digest for an ordered list of input digests."""
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]
