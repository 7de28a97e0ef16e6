"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and a shape), built
with numpy's PCG64 generator, so the same seed yields byte-identical
parquet files and payload strings. The program under test only ever
sees what these functions write or return.

- :func:`write_tables` writes the ten catalog tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  column types, value domains and row ratios of the committed sf0.1
  fixture, scaled by ``sf``.
- :class:`IngestStream` yields scraped batches: newsfilter JSON,
  pushshift JSON, eastmoney JSONP and HTML article pages, with
  planted exact duplicates, short texts, rejected posts, CJK text and
  documents re-delivered from earlier batches; :func:`accepted` is the
  reference model of what the ingest pipeline must store from them.
"""

from __future__ import annotations

import base64
import hashlib
import itertools
import json
import os
import re
import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the committed fixture at sf 1.0 (sf0.1 x 10).
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
    "users": 15_000,
}

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "screw", "pipe", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(start: str, n: int) -> np.ndarray:
    return np.datetime64(start, "D") + np.arange(n)


def _us(day: np.ndarray) -> np.ndarray:
    """Day array -> int64 microseconds since the epoch."""
    return (day.astype("datetime64[us]") - _EPOCH).astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Cent-exact doubles in [lo, hi)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos : pos + k]))
        pos += k
    return out


def table_shapes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    rows = {t: max(1, int(n * sf)) for t, n in BASE_ROWS.items()}
    rows["region"], rows["nation"] = 5, 25
    return rows


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables as Arrow tables (see module docstring)."""
    rng = np.random.default_rng(np.random.PCG64([seed, 1]))
    n = table_shapes(sf)
    ts_us = pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": np.array(names)[rng.integers(0, len(names), npart)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    odays = _days("1995-01-01", 2405)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(_us(odays[rng.integers(0, len(odays), no)]), ts_us),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    sdays = _days("1995-01-02", 2499)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(_us(sdays[rng.integers(0, len(sdays), nl)]), ts_us),
        }
    )
    ne = n["events"]
    # Strictly increasing microsecond timestamps over 30 days: no two
    # events share an instant, as in the fixture (tie-free windows).
    start = _us(np.array([np.datetime64("2024-01-01", "D")]))[0]
    span = 30 * 86400 * 1_000_000
    gaps = rng.integers(1, 2 * span // ne, ne)
    ts = start + np.cumsum(gaps)
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, ts_us),
            "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.floor(rng.lognormal(3.55, 1.1, ne) * 100) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


#: Planted duplicate shares of the ``documents`` / ``embeddings`` tables.
TABLE_PLANTED = {
    "documents_exact_dup_share": 0.01,
    "documents_near_dup_share": 0.05,  # one token replaced by "dup"
    "documents_tokens": [10, 100],
    "embeddings_near_dup_share": 0.05,  # copy + N(0, 0.02) noise
}


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Word-salad documents with planted exact and near duplicates
    (an earlier document with one token replaced by ``dup``)."""
    exact = TABLE_PLANTED["documents_exact_dup_share"]
    near = exact + TABLE_PLANTED["documents_near_dup_share"]
    texts = _texts(rng, nd, *TABLE_PLANTED["documents_tokens"])
    kind = rng.random(nd)
    for i in range(1, nd):
        j = int(rng.integers(0, i))
        if kind[i] < exact:
            texts[i] = texts[j]
        elif kind[i] < near:
            toks = texts[j].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts[i] = " ".join(toks)
    return pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit-norm 64-d float32 vectors around 10 weak label centroids,
    with ~5% near-copies of earlier vectors."""
    labels = rng.integers(0, 10, nv).astype(np.int32)
    cents = rng.normal(0.0, 0.6, (10, 64))
    vecs = rng.normal(0.0, 1.0, (nv, 64)) + cents[labels]
    near = np.nonzero(rng.random(nv) < TABLE_PLANTED["embeddings_near_dup_share"])[0]
    for i in near[near > 0]:
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0.0, 0.02, 64)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, 64 * nv + 1, 64, dtype=np.int32)), flat
            ),
            "label": labels,
        }
    )


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every catalog table;
    returns the byte size of each file."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in make_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = os.path.getsize(path)
    return sizes


# ---------------------------------------------------------------------------
# Ingest batches
# ---------------------------------------------------------------------------


#: The pushshift parser's own false-positive exclusions.
_EXCLUDED = ("DD", "ARE")
_REAL = ("AAPL", "TSLA", "MSFT", "NVDA", "AMZN", "GME", "AMD")
#: Symbols the pushshift posts mention: a few real ones, then distinct
#: synthetic three-letter codes (never an excluded one), 554 in all.
_TICKERS = _REAL + tuple(itertools.islice(
    (c for c in map("".join, itertools.product(string.ascii_uppercase, repeat=3))
     if c not in _EXCLUDED + _REAL),
    547,
))
#: Ticker universe handed to the pushshift parser: 556 symbols, the size
#: of the reference's active reddit scrape set (BASELINE.md), the
#: excluded ones among them.
UNIVERSE = _TICKERS + _EXCLUDED
_CJK = "市场股票公司投资价格增长银行利润指数交易政策经济"
KINDS = ("newsfilter", "pushshift", "eastmoney", "html")

#: Documents per batch and kind. A batch holds one payload of each JSON
#: kind, at the reference's page size (BASELINE.md: newsfilter 50
#: articles per request, pushshift 100 posts, eastmoney 100 reports per
#: page), and ``html`` article pages of one document each (an unmeasured
#: assumption).
BATCH_SHAPE = {"newsfilter": 50, "pushshift": 100, "eastmoney": 100, "html": 20}
#: Planted shares, each drawn per document. Unmeasured assumptions: the
#: reference records none of them (README.md).
PLANTED = {
    "redelivered_share": 0.10,  # same id + content as an earlier batch
    "exact_dup_share": 0.05,  # same content under a new id, same payload
    "short_text_share": 0.05,  # 1-3 word body: the short-text gate drops it
    "rejected_share": 0.05,  # newsfilter '4 Form' filing / removed or ticker-less post
    "cjk_share": 0.15,  # CJK words + full-width punctuation in the body
}


@dataclass
class Doc:
    """One generated document in the parsers' unified shape: ``text``
    is what the parser derives for the ``text`` column, ``rejected``
    marks documents the parser itself filters out."""

    kind: str
    source_id: str
    title: str
    description: str | None
    text: str
    body: str
    rejected: bool = False

    @property
    def key(self) -> str:
        """``functions.text.stable_id_hash`` of the source id."""
        return hashlib.sha256(self.source_id.encode()).hexdigest()

    @property
    def content_hash(self) -> str:
        """``functions.text.content_hash(title, description, text)``."""
        parts = [p for p in (self.title, self.description, self.text) if p is not None]
        return hashlib.sha256("".join(parts).encode()).hexdigest()


@dataclass
class Batch:
    index: int
    payloads: dict[str, list[str]]
    docs: list[Doc]

    @property
    def payload_bytes(self) -> int:
        return sum(len(p.encode()) for ps in self.payloads.values() for p in ps)


def _body(rng: np.random.Generator, short: bool, cjk: bool) -> str:
    n = int(rng.integers(1, 4)) if short else int(rng.integers(12, 40))
    words = [WORDS[i] for i in rng.integers(0, len(WORDS), n)]
    if cjk:
        for _ in range(3):
            k = int(rng.integers(2, 6))
            words[int(rng.integers(0, n))] = "".join(
                _CJK[i] for i in rng.integers(0, len(_CJK), k)
            )
        words.append("！！")
    return " ".join(words)


def html_article_text(body: str) -> str:
    """What ``sources.extract.extract_article`` yields for a page from
    :func:`_html_page`: the body paragraph when it clears the
    extractor's 80-char floor, else nothing (the chrome is short)."""
    return body if len(body) >= 80 else ""


def _html_page(d: Doc) -> str:
    return (
        f"<html><head><title>{d.title}</title></head><body>"
        '<div class="nav"><a href="/">Home</a> <a href="/m">Markets</a></div>'
        f"<h1>{d.title}</h1><p>{d.body}</p>"
        '<div class="footer">(c) 2024 example</div>'
        f"<!--{d.source_id}--></body></html>"
    )


class IngestStream:
    """Deterministic stream of scraped batches for one seed. Batch
    ``i`` depends only on ``(seed, i)`` and the batches before it
    (re-deliveries are drawn from the stream's own history), so
    batches are produced in order, as the closed-loop client asks."""

    def __init__(self, seed: int, shape: dict | None = None):
        self.seed = seed
        self.shape = dict(BATCH_SHAPE if shape is None else shape)
        self.history: dict[str, list[Doc]] = {k: [] for k in KINDS}
        self.seen: set[str] = set()
        self.n_batches = 0

    def _new_doc(self, rng: np.random.Generator, kind: str, sid: str) -> Doc:
        short = rng.random() < PLANTED["short_text_share"]
        cjk = rng.random() < PLANTED["cjk_share"]
        rejected = rng.random() < PLANTED["rejected_share"]
        title = _body(rng, True, False).title()
        body = _body(rng, short, cjk)
        if kind == "newsfilter":
            if rejected:
                title = "4 Form " + title
            return Doc(kind, sid, title, body, f"{title} {body}", body, rejected)
        if kind == "pushshift":
            tick = _TICKERS[int(rng.integers(0, len(_TICKERS)))]
            # A rejected post is either moderator-removed or names no
            # ticker in the universe; both leave the filter chain.
            text = body if rejected and rng.random() < 0.5 else f"{body} ${tick.lower()}"
            return Doc(kind, sid, title, None, text, body, rejected)
        if kind == "eastmoney":
            return Doc(kind, sid, body, title, body, body)
        return Doc(kind, sid, title, None, html_article_text(body), body)

    def _docs(self, rng: np.random.Generator, kind: str, n: int, tag: str) -> list[Doc]:
        out: list[Doc] = []
        past = self.history[kind]
        for j in range(n):
            r = rng.random()
            sid = f"{kind}-{self.seed}-{tag}-{j}"
            if r < PLANTED["redelivered_share"] and past:
                out.append(past[int(rng.integers(0, len(past)))])
            elif r < PLANTED["redelivered_share"] + PLANTED["exact_dup_share"] and out:
                src = out[int(rng.integers(0, len(out)))]
                out.append(
                    Doc(kind, sid, src.title, src.description, src.text, src.body,
                        src.rejected)
                )
            else:
                out.append(self._new_doc(rng, kind, sid))
        return out

    def batch(self) -> Batch:
        i = self.n_batches
        self.n_batches += 1
        rng = np.random.default_rng(np.random.PCG64([self.seed, 2, i]))
        n = self.shape
        arts = self._docs(rng, "newsfilter", n["newsfilter"], f"{i}")
        posts = self._docs(rng, "pushshift", n["pushshift"], f"{i}")
        reps = self._docs(rng, "eastmoney", n["eastmoney"], f"{i}")
        pages = self._docs(rng, "html", n["html"], f"{i}")
        payloads = {
            "newsfilter": [json.dumps({
                "total": {"value": len(arts)},
                "articles": [
                    {"id": d.source_id, "source": {"name": "wire"},
                     "symbols": ["AAPL"], "title": d.title,
                     "description": d.description,
                     "publishedAt": "2024-03-01T09:30:00Z",
                     "url": f"https://news.example/{d.source_id}"}
                    for d in arts
                ],
            })],
            "pushshift": [json.dumps({"data": [
                {"id": d.source_id, "subreddit": "stocks", "title": d.title,
                 "selftext": d.text, "created_utc": 1709285400 + 60 * j,
                 "full_link": f"https://reddit.example/{d.source_id}",
                 "removed_by_category": (
                     "moderator" if d.rejected and "$" in d.text else None
                 )}
                for j, d in enumerate(posts)
            ]})],
            "eastmoney": [
                f"jQuery{self.seed}_{i}(" + json.dumps({"data": [
                    {"id": d.source_id,
                     "encodeUrl": base64.b64encode(
                         f"https://data.eastmoney.example/{d.source_id}".encode()
                     ).decode(),
                     "title": d.title, "stockName": d.description,
                     "stockCode": str(600000 + j),
                     "publishDate": "2024-03-01 09:30:00"}
                    for j, d in enumerate(reps)
                ]}) + ")"
            ],
            "html": [_html_page(d) for d in pages],
        }
        docs = arts + posts + reps + pages
        for d in docs:
            if d.source_id not in self.seen:
                self.history[d.kind].append(d)
                self.seen.add(d.source_id)
        return Batch(i, payloads, docs)


_CASHTAG = re.compile(r"\$\w+")


def normalized_tokens(text: str) -> int:
    """Whitespace tokens left once the normalization step strips
    cashtags: the count the short-text gate compares against 5."""
    return len(_CASHTAG.sub("", text).split())


def accepted(batches: list[Batch]) -> list[list[Doc]]:
    """Reference model of the ingest pipeline: per batch, the
    documents that end up newly inserted into the store. Parser
    filters, then the short-text gate (> 5 tokens), then exact dedup on
    content (lowest key wins), then insert-if-absent by key."""
    stored: set[str] = set()
    out = []
    for b in batches:
        kept: dict[str, Doc] = {}
        for d in b.docs:
            if d.rejected or normalized_tokens(d.text) <= 5:
                continue
            cur = kept.get(d.text)
            if cur is None or d.key < cur.key:
                kept[d.text] = d
        new = {}
        for d in kept.values():
            if d.key not in stored:
                new[d.key] = d
        stored |= set(new)
        out.append(list(new.values()))
    return out


def batch_shape_record(shape: dict) -> dict:
    """Shape of one ingest batch, as stated in the benchmark record."""
    return {
        "docs_per_batch": sum(shape.values()),
        "payloads_per_batch": 3 + shape["html"],
        "docs_per_kind": dict(shape),
        **PLANTED,
    }
