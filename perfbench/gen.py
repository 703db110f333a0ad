"""Seeded input generators, one per workload.

Each generator takes the seed, writes the workload's inputs under a
directory, and returns ``(props, expect)``: ``props`` are the input
properties the program's behaviour depends on (recorded in every run's
output), ``expect`` is what the correctness gate compares each pass
against.  The same seed gives byte-identical inputs.  Inputs are written
with numpy/pyarrow only, so generating them does not run the program.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gmail_etl_spark.sources.fixtures import fixture_messages

# --- gmail_etl -------------------------------------------------------------
#: Raw rows per run.  Blobs hold 150..300 messages: the reference job
#: fetches at most 300 messages per run.
GMAIL_ROWS = 4_000
GMAIL_BLOB_MIN, GMAIL_BLOB_MAX = 150, 300
#: Shares of the unique messages, as exact counts.  Each one routes rows
#: through a different part of transform_stage1: Indeed mail crosses
#: extract_indeed (and html_to_text), markup crosses html_to_text, fuzzy
#: dates cross fuzzy_parse_ts; the rest stay on the JVM.
P_INDEED, P_MARKUP, P_FUZZY = 0.08, 0.25, 0.06
#: Share of unique ids already in the ledger, and share of raw rows that
#: repeat an earlier message of the same batch (same id, same content).
P_LEDGER_HIT, P_BATCH_DUP = 0.15, 0.05
#: Ledger ids that are not in the batch, per ledger hit.
LEDGER_OLD_PER_HIT = 2

# --- near_dup_batch --------------------------------------------------------
NEAR_DOCS = 3_000
NEAR_TOKENS = 60
#: Planted group sizes 2..10 are drawn with weight 1/size; a group is a
#: singleton with this probability.
NEAR_P_SINGLETON = 0.4
NEAR_FILES = 16

# --- knn_topk --------------------------------------------------------------
KNN_N, KNN_DIM, KNN_CENTERS, KNN_NOISE = 100_000, 64, 64, 0.05
KNN_QUERIES, KNN_K = 64, 10
KNN_FILES = 16

_WORDS = (
    "account update invoice order meeting report team project review "
    "schedule offer payment delivery status request support service ticket "
    "release plan budget summary notice reminder confirm receipt shipping "
    "balance credit renewal policy draft agenda minutes quarter forecast "
    "launch design feedback survey event webinar invite follow thanks regards"
).split()
_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
_DAYS = "Mon Tue Wed Thu Fri Sat Sun".split()


def _b64u(s: str) -> str:
    return base64.urlsafe_b64encode(s.encode("utf-8")).decode("ascii")


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(_WORDS, k=rng.randrange(lo, hi)))


def _plain_body(rng) -> str:
    # neither '<' nor '&': the body stays on the JVM strip path
    lines = [_words(rng, 5, 25).capitalize() + "." for _ in range(rng.randrange(2, 12))]
    return "\r\n".join(lines) + ("\n  " if rng.random() < 0.3 else "")


def _markup_body(rng) -> str:
    paras = "".join(
        f"<p>{_words(rng, 5, 30)} &amp; {_words(rng, 1, 4)}&nbsp;{rng.randrange(1, 999)}&euro; café</p>\r\n"
        for _ in range(rng.randrange(2, 10))
    )
    return (
        f"<html><head><title>{_words(rng, 1, 3)}</title></head><body>"
        f"<h1>{_words(rng, 1, 4)}</h1>\r\n{paras}</body></html>"
    )


def _indeed_body(rng) -> str:
    role = _words(rng, 1, 3).title()
    org = _words(rng, 1, 2).title() + " Corp"
    city = _words(rng, 1, 2).title()
    return (
        '<html><body><div dir="rtl">'
        "<a href='#'>View application</a>"
        f"<p>{role}</p><p>{org} - {city}, IL</p><p>{org}</p>"
        f"</div><p>{_words(rng, 3, 12)}</p></body></html>"
    )


def _rfc_date(rng) -> str:
    t = dt.datetime(2023, 1, 1) + dt.timedelta(seconds=rng.randrange(3 * 365 * 86400))
    return f"{_DAYS[t.weekday()]}, {t.day} {_MONTHS[t.month - 1]} {t.year} {t:%H:%M:%S} +0000"


def _fuzzy_date(rng) -> str:
    t = dt.datetime(2023, 1, 1) + dt.timedelta(seconds=rng.randrange(3 * 365 * 86400))
    return f"on {t.day} {_MONTHS[t.month - 1]} {t.year} at {t:%H:%M:%S} thanks"


def _set_header(msg: dict, name: str, value: str) -> None:
    for h in msg["payload"]["headers"]:
        if h["name"].lower() == name:
            h["value"] = value


def _gmail_message(rng, templates, t: int, mid: str) -> dict:
    # template indices: 0-4 and 7 plain, 5 markup, 6 fuzzy date, 8-9 Indeed
    m = json.loads(templates[t])
    m["id"] = mid
    p = m["payload"]
    _set_header(m, "date", _fuzzy_date(rng) if t == 6 else _rfc_date(rng))
    _set_header(m, "subject", _words(rng, 2, 8))
    if t == 8:
        p["body"]["data"] = _b64u(_indeed_body(rng))
    elif t == 5:
        p["body"]["data"] = _b64u(_markup_body(rng))
    elif t == 4:  # multipart: vary every data leaf
        p["body"]["data"] = _b64u(_plain_body(rng))
        p["parts"][0]["body"]["data"] = _b64u(_plain_body(rng))
        p["parts"][0]["parts"][0]["body"]["data"] = _b64u(_plain_body(rng))
        p["parts"][1]["body"]["data"] = _b64u(_plain_body(rng))
    elif t != 9:  # template 9 keeps its malformed Indeed body
        p["body"]["data"] = _b64u(_plain_body(rng))
    return m


def _exact(n: int, shares: dict) -> np.ndarray:
    """``n`` labels with exactly round(share * n) of each key (the first
    key takes the remainder)."""
    counts = {k: int(round(v * n)) for k, v in shares.items()}
    first = next(iter(shares))
    counts[first] += n - sum(counts.values())
    return np.concatenate([np.full(c, k) for k, c in counts.items()])


def gen_gmail(seed: int, root: str) -> tuple[dict, dict]:
    """Raw zone of JSON-array blobs plus the processed-id ledger.

    The seed varies contents, ids and order; the counts of each message
    kind, duplicates, ledger hits and blob sizes are the same for every
    seed, so every seed asks the program for the same work."""
    rng = np.random.default_rng([seed, 1])
    rnd = random.Random(seed)
    templates = [json.dumps(m) for m in fixture_messages()]
    n_dup = int(round(GMAIL_ROWS * P_BATCH_DUP))
    n_unique = GMAIL_ROWS - n_dup
    p_plain = (1 - P_INDEED - P_MARKUP - P_FUZZY) / 6
    kinds = _exact(
        n_unique,
        {0: p_plain, 1: p_plain, 2: p_plain, 3: p_plain, 4: p_plain, 7: p_plain,
         5: P_MARKUP, 6: P_FUZZY, 8: P_INDEED * 0.85, 9: P_INDEED * 0.15},
    )
    rng.shuffle(kinds)
    unique = [
        _gmail_message(rnd, templates, int(t), f"s{seed}-m{i:06d}")
        for i, t in enumerate(kinds)
    ]
    rows = unique + [unique[i] for i in rng.choice(n_unique, n_dup, replace=False)]
    order = rng.permutation(len(rows))
    raw_dir = os.path.join(root, "raw")
    os.makedirs(raw_dir)
    sizes = np.random.default_rng(0).integers(GMAIL_BLOB_MIN, GMAIL_BLOB_MAX + 1, len(rows))
    n_blobs, start = 0, 0
    while start < len(rows):
        blob = [rows[i] for i in order[start : start + sizes[n_blobs]]]
        with open(os.path.join(raw_dir, f"blob-{n_blobs:05d}.json"), "w") as f:
            f.write(json.dumps(blob))
        n_blobs, start = n_blobs + 1, start + sizes[n_blobs]

    ids = [m["id"] for m in unique]
    hit_idx = rng.choice(n_unique, int(round(n_unique * P_LEDGER_HIT)), replace=False)
    hits = [ids[i] for i in hit_idx]
    old = [f"s{seed}-old{i:06d}" for i in range(len(hits) * LEDGER_OLD_PER_HIT)]
    ledger_ids = hits + old
    days = rng.integers(19000, 19700, len(ledger_ids)).astype("int32")
    ledger_dir = os.path.join(root, "ledger")
    os.makedirs(ledger_dir)
    pq.write_table(
        pa.table({"id": pa.array(ledger_ids), "date": pa.array(days, pa.int32()).cast(pa.date32())}),
        os.path.join(ledger_dir, "part-00000.parquet"),
    )
    fresh = sorted(set(ids) - set(hits))
    n = len(rows)
    props = {
        "raw_rows": n,
        "blobs": n_blobs,
        "markup_share": round(float(np.isin(kinds, [5, 8, 9]).mean()), 4),
        "indeed_share": round(float(np.isin(kinds, [8, 9]).mean()), 4),
        "fuzzy_date_share": round(float(np.mean(kinds == 6)), 4),
        "ledger_hit_share": round(len(hits) / n_unique, 4),
        "in_batch_dup_share": round(n_dup / n, 4),
        "ledger_rows": len(ledger_ids),
        "fresh_ids": len(fresh),
    }
    expect = {"fresh_ids": fresh, "ledger_rows": len(ledger_ids)}
    return props, expect


def _near_groups() -> list[int]:
    """The planted group sizes: drawn once from a fixed stream, so every
    seed plants the same group-size mix."""
    rng = np.random.default_rng(0)
    sizes_2_10 = np.arange(2, 11)
    w = 1.0 / sizes_2_10
    groups: list[int] = []
    total = 0
    while total < NEAR_DOCS:
        s = 1 if rng.random() < NEAR_P_SINGLETON else int(rng.choice(sizes_2_10, p=w / w.sum()))
        s = min(s, NEAR_DOCS - total)
        groups.append(s)
        total += s
    return groups


def gen_near_dup(seed: int, root: str) -> tuple[dict, dict]:
    """Planted near-duplicate groups plus singletons, as (doc_id, text).

    Members of a group share the group's first NEAR_TOKENS-1 tokens and
    end in a token of their own, so any two of them differ in one
    3-shingle (Jaccard (T-3)/(T-1) ~ 0.97).  At 30 tokens (Jaccard 0.93)
    the operator's 16 hashes in 8 bands missed a few planted pairs on
    some seeds, which left those seeds more CC rounds to run; at 60 it
    found every planted pair on every seed tried, so all seeds ask for
    the same work.  Tokens are random 64-bit values, so no two groups
    share a shingle.  The seed varies tokens and ids; the group-size mix
    is fixed.
    """
    rng = np.random.default_rng([seed, 2])
    groups = _near_groups()
    doc_ids = rng.permutation(NEAR_DOCS).astype(np.int64)
    tok = rng.integers(0, 2**63 - 1, size=(len(groups), NEAR_TOKENS - 1), dtype=np.int64)
    uniq = rng.integers(0, 2**63 - 1, size=NEAR_DOCS, dtype=np.int64)
    texts, survivors, pos = [], [], 0
    for g, s in enumerate(groups):
        head = " ".join(format(int(x), "x") for x in tok[g])
        for j in range(s):
            texts.append(f"{head} {int(uniq[pos + j]):x}")
        survivors.append(int(doc_ids[pos : pos + s].min()))
        pos += s
    tbl = pa.table({"doc_id": pa.array(doc_ids), "text": pa.array(texts)})
    _write_files(tbl, os.path.join(root, "docs"), NEAR_FILES)
    sizes = np.array(groups)
    props = {
        "docs": NEAR_DOCS,
        "tokens_per_doc": NEAR_TOKENS,
        "groups": len(groups),
        "planted_clusters": int((sizes > 1).sum()),
        "planted_pairs": int((sizes * (sizes - 1) // 2).sum()),
        "singleton_share": round(float((sizes == 1).sum() / NEAR_DOCS), 4),
        "group_size_mix": {str(k): int((sizes == k).sum()) for k in range(1, 11)},
    }
    expect = {"survivors": sorted(survivors)}
    return props, expect


def gen_knn(seed: int, root: str) -> tuple[dict, dict]:
    """Embeddings planted around KNN_CENTERS centers, as (vec_id,
    embedding, center), plus a seeded query id set drawn from the corpus."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.uniform(-1.0, 1.0, (KNN_CENTERS, KNN_DIM))
    center = np.arange(KNN_N) % KNN_CENTERS
    vecs = centers[center] + rng.uniform(-KNN_NOISE, KNN_NOISE, (KNN_N, KNN_DIM))
    ids = np.arange(KNN_N, dtype=np.int64)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, KNN_N * KNN_DIM + 1, KNN_DIM, dtype=np.int32)),
        pa.array(vecs.ravel()),
    )
    tbl = pa.table({"vec_id": ids, "embedding": emb, "center": center.astype(np.int32)})
    _write_files(tbl, os.path.join(root, "corpus"), KNN_FILES)
    queries = np.sort(rng.choice(KNN_N, KNN_QUERIES, replace=False)).astype(np.int64)
    props = {"n": KNN_N, "dim": KNN_DIM, "queries": KNN_QUERIES, "k": KNN_K, "centers": KNN_CENTERS}
    return props, {"vecs": vecs, "queries": queries}


def knn_reference(vecs: np.ndarray, queries: np.ndarray, k: int) -> dict[int, tuple]:
    """numpy brute force with the operator's ranking: sim rounded to 6
    places desc, then neighbor id asc; the query itself is excluded.
    Returns {query_id: (neighbor_ids, sims)} in rank order."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit @ unit[queries].T
    out = {}
    for j, q in enumerate(queries):
        col = np.round(sims[:, j], 6)
        col[q] = -np.inf
        cand = np.argpartition(-col, 4 * k)[: 4 * k]
        order = cand[np.lexsort((cand, -col[cand]))][:k]
        out[int(q)] = (order.astype(np.int64), col[order])
    return out


def _write_files(tbl: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


GENERATORS = {"gmail_etl": gen_gmail, "near_dup_batch": gen_near_dup, "knn_topk": gen_knn}
