"""Seeded input generators for the benchmark.

Everything the engine sees in a run is made here from the run's seed:

- ``write_star``: the TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that the catalog queries read
  (one parquet file per table, the layout the catalog expects);
- ``warehouse_rows``: companies for the warehouse;
- ``weekly_batches``: discovered planning applications plus company
  upserts, one set per weekly batch;
- ``doc_drop``: documents landed through the streaming text-index
  ingest.

Company and applicant names draw tokens from a vocabulary of
``VOCAB_SIZE`` made-up words with Zipf-skewed frequencies, so token
blocks in entity resolution stay selective (a tiny vocabulary turns
every token block into a near cross product).
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 6000
ZIPF_S = 1.1

DOC_WORDS = ("spark window merge table column vector stream value data "
             "small join filter big group hash customer sort order slow "
             "line part fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                     "BUILDING"])
PART_ADJ = np.array(["red", "new", "hot", "small", "cold", "large", "old",
                     "blue"])
PART_NOUN = np.array(["bolt", "anvil", "ring", "rod", "plate", "gear",
                      "widget", "gizmo"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                       "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
COMPANY_SUFFIX = np.array(["LTD", "LIMITED", "PLC", "LLP", "HOLDINGS LTD",
                           "GROUP LIMITED"])
BOROUGHS = ["Camden", "Hackney", "Islington", "Lambeth", "Southwark",
            "Westminster", "Barnet", "Croydon"]
STATUSES = np.array(["active", "dissolved", "liquidation"])

_ONSET = list("bcdfghjklmnprstvwz") + ["ch", "sh", "th", "br", "tr", "gr"]
_VOWEL = ["a", "e", "i", "o", "u", "ai", "ou"]
_CODA = ["", "n", "r", "s", "l", "x"]

EPOCH = dt.datetime(2024, 1, 1)


def vocabulary() -> np.ndarray:
    """The fixed name vocabulary: ``VOCAB_SIZE`` distinct two- and
    three-syllable words, in a fixed order (the seed permutes which
    word gets which frequency rank, not the words themselves)."""
    syll = [o + v + c for o in _ONSET for v in _VOWEL for c in _CODA]
    rng = np.random.default_rng(12345)
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = 2 + int(rng.integers(0, 2))
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), n)))
    return np.array(sorted(words))


class NameSampler:
    """Zipf-skewed token draws from the vocabulary; the seed picks the
    frequency ranking."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.words = rng.permutation(vocabulary())
        w = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
        self.p = w / w.sum()

    def tokens(self, n: int) -> np.ndarray:
        return self.words[self.rng.choice(VOCAB_SIZE, size=n, p=self.p)]

    def company_names(self, n: int) -> list[str]:
        k = self.rng.integers(2, 4, n)
        toks = self.tokens(int(k.sum()))
        suf = COMPANY_SUFFIX[self.rng.integers(0, len(COMPANY_SUFFIX), n)]
        out, at = [], 0
        for i in range(n):
            out.append(" ".join(toks[at:at + k[i]]).upper() + " " + suf[i])
            at += k[i]
        return out


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days.astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    return write_parquet(os.path.join(out_dir, f"{name}.parquet"), cols)


def _docs(rng: np.random.Generator, n: int, start_id: int = 0,
          dup_frac: float = 0.05) -> dict:
    lens = rng.integers(10, 101, n)
    words = np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS),
                                             int(lens.sum()))]
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(words[at:at + k]))
        at += k
    # near duplicates: a copy of another document with one token appended
    n_dup = int(n * dup_frac)
    dups = rng.choice(n, size=n_dup, replace=False)
    srcs = rng.integers(0, n, n_dup)
    for d, s in zip(dups, srcs):
        if d != s:
            texts[d] = texts[s] + " dup"
    ids = np.arange(start_id, start_id + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_star(out_dir: str, seed: int, sf: float, n_docs: int,
               n_vecs: int) -> dict[str, int]:
    """Write the ten catalog tables at scale factor ``sf`` (TPC-H row
    counts times ``sf``) with ``n_docs`` documents and ``n_vecs``
    64-dim unit embeddings. Returns bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    size = {}
    size["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    size["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    size["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    size["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    size["part"] = _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(PART_ADJ[rng.integers(0, 8, n_part)],
                                          " "),
                              PART_NOUN[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    size["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1)
    size["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odays, per) + rng.integers(1, 96, n_li))})
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    size["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    size["documents"] = _write(out_dir, "documents", _docs(rng, n_docs))
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    size["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            vec.reshape(-1), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return size


# ------------------------------------------------------------- warehouse
def _company_number(i: np.ndarray) -> list[str]:
    return [f"{k:08d}" for k in i]


def companies(names: NameSampler, ids: np.ndarray, when: dt.datetime) -> dict:
    rng, n = names.rng, len(ids)
    return {
        "id": ids.astype(np.int64),
        "company_number": _company_number(ids),
        "company_name": names.company_names(n),
        "company_status": STATUSES[rng.choice(3, size=n, p=[0.8, 0.15, 0.05])],
        "locality": names.tokens(n),
        "updated_at": [when + dt.timedelta(seconds=int(s))
                       for s in rng.integers(0, 86_400, n)],
    }


def warehouse_rows(seed: int, n_companies: int) -> dict[str, dict]:
    """Serving warehouse: ``n_companies`` companies."""
    names = NameSampler(np.random.default_rng(seed))
    return {"companies": companies(names, np.arange(1, n_companies + 1), EPOCH)}


def weekly_batches(seed: int, n_apps: int, n_companies: int,
                   n_company_upserts: int, dim_names: list[str] | None = None
                   ) -> Iterator[dict[str, dict]]:
    """Yields one dict per weekly batch, made when asked for:
    ``discovered`` planning applications
    (applicant names drawn mostly from the company dimension's
    vocabulary, a tenth copied exactly from ``dim_names``, some
    individuals), plus the ``planning_applications`` and ``companies``
    rows the batch upserts. Company upserts mix updates of existing ids
    (later batches overwrite earlier values) and new ids past
    ``n_companies``."""
    rng = np.random.default_rng(seed)
    names = NameSampler(rng)
    next_company = n_companies + 1
    for b in itertools.count():
        when = EPOCH + dt.timedelta(days=7 * (b + 1))
        refs = [f"{b:02d}/{i:05d}/FUL" for i in range(n_apps)]
        borough = [BOROUGHS[k] for k in rng.integers(0, len(BOROUGHS), n_apps)]
        kind = rng.random(n_apps)
        applicant = names.company_names(n_apps)
        for i in np.nonzero(kind < 0.15)[0]:
            a, c = names.tokens(2)
            applicant[i] = f"Mr {a.title()} {c.title()}"
        if dim_names:
            for i in np.nonzero(kind > 0.9)[0]:
                applicant[i] = dim_names[rng.integers(0, len(dim_names))]
        n_upd = n_company_upserts // 2
        upd_ids = rng.choice(np.arange(1, n_companies + 1), n_upd, replace=False)
        new_ids = np.arange(next_company, next_company + n_company_upserts - n_upd)
        next_company += len(new_ids)
        cids = np.concatenate([upd_ids, new_ids])
        yield {
            "discovered": {
                "borough": borough, "reference": refs,
                "applicant_name": applicant,
                "agent_name": pa.array([None] * n_apps, pa.string()),
            },
            "planning_applications": {
                "id": np.arange(b * n_apps, (b + 1) * n_apps, dtype=np.int64),
                "reference": refs, "borough": borough,
                "description": names.tokens(n_apps),
                "status": np.array(["pending", "decided"])[rng.integers(0, 2, n_apps)],
                "created_at": [when] * n_apps, "updated_at": [when] * n_apps,
            },
            "companies": companies(names, cids, when),
        }


def doc_drop(seed: int, n: int, start_id: int) -> dict:
    """``n`` new documents with ids from ``start_id`` (a streaming
    landing-directory file)."""
    return _docs(np.random.default_rng(seed), n, start_id=start_id)


def write_parquet(path: str, cols: dict) -> int:
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)
