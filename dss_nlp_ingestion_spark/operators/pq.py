"""Product quantization (PQ) — the ANN-serving compression step.

After int8 scalar quantization (plans/analytics_queries.py), PQ is
the other standard embedding compressor: split each d-dim vector
into ``m`` subvectors, learn a small k-means codebook per subspace,
store each vector as ``m`` one-byte codes (Jégou et al., 2011).
At 100 TB this is what makes billion-vector ANN serveable: 64 floats
become 8 bytes, and distance evaluation against a query becomes m
table lookups.

Division of labor mirrors production systems (and this repo's IVF /
sentiment-model pattern): codebooks are MODEL PARAMETERS — trained
driver-side with deterministic numpy k-means on a bounded sample,
shipped as a committed ``.npz`` artifact — while ASSIGNMENT is pure
distributed column math: per subspace, the squared distance to each
of the k centroids is a fixed left-associated IEEE expression tree,
argmin with a first-match tie-break. Identical SQL reproduces every
bit, so the encoder sits under the driver's hash gate.

Training determinism: init = first k sample rows, Lloyd iterations
with lowest-index tie-break, empty clusters keep their centroid —
no RNG anywhere, so the committed artifact is exactly reproducible
(pinned by a retrain-equality test).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.operators.similarity import _fold, _sqdiff, _stack

#: committed default artifact (trained on the deterministic synthetic
#: sample below; provenance pinned by tests).
DEFAULT_PQ_ARTIFACT = __file__.replace("pq.py", "pq_codebook_v1.npz")


def synth_training_sample(n: int = 256, dim: int = 64) -> np.ndarray:
    """Deterministic synthetic sample: row i, component j =
    sin(0.7*i + 1.3*j) + 0.01*((i*37 + j*17) % 100).

    Kept as the corpus-independent fallback; the COMMITTED codebook
    is trained on :func:`corpus_training_sample` instead — the r7 sf1
    recall eval showed the synthetic sample is badly off-distribution
    vs the embeddings table (range [-1, 2] vs +-0.33), which put the
    true neighbors at ADC rank ~1500/2000 (recall@20 = 0.05).
    Codebooks are a fit to the data distribution; production PQ
    (FAISS train()) samples the real corpus for exactly this
    reason."""
    i = np.arange(n, dtype=np.float64)[:, None]
    j = np.arange(dim, dtype=np.float64)[None, :]
    return np.sin(0.7 * i + 1.3 * j) + 0.01 * ((i * 37 + j * 17) % 100)


#: Provenance of the committed codebook's training sample: the first
#: ``n`` vectors (by vec_id) of the driver-generated sf0.1 embeddings
#: table — a deterministic corpus sample, the same artifact-from-
#: fixture pattern as the NLP models (their corpora are committed
#: fixtures; here the fixture IS the driver's parquet).
CORPUS_SAMPLE_PATH = "/root/testdata/sf0.1/embeddings.parquet"


def corpus_training_sample(
    n: int = 512, path: str = CORPUS_SAMPLE_PATH
) -> np.ndarray:
    """First ``n`` embedding vectors ordered by vec_id, as float64 —
    the deterministic in-distribution training sample the committed
    codebook is built from (pyarrow read, no Spark; training is a
    driver-side model-fitting step, never part of a query plan)."""
    import pyarrow.parquet as pq_

    t = pq_.read_table(path, columns=["vec_id", "embedding"])
    order = np.argsort(t.column("vec_id").to_numpy(), kind="stable")[:n]
    emb = t.column("embedding").to_pylist()
    return np.array([emb[i] for i in order], dtype=np.float64)


def train_pq_codebooks(
    sample: np.ndarray, m: int = 8, k: int = 16, iters: int = 8
) -> dict:
    """Deterministic Lloyd k-means per subspace. Returns
    {"codebooks": (m, k, d/m) float64, "m": m, "k": k}."""
    n, dim = sample.shape
    sub = dim // m
    books = np.zeros((m, k, sub))
    for s in range(m):
        x = sample[:, s * sub : (s + 1) * sub]
        cent = x[:k].copy()  # deterministic init: first k rows
        for _ in range(iters):
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # numpy argmin = first min (ties)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = x[mask].mean(axis=0)
        books[s] = cent
    return {"codebooks": books, "m": m, "k": k}


def save_pq_artifact(model: dict, path: str) -> None:
    extra = {}
    if model.get("query_vec") is not None:
        extra["query_vec"] = np.asarray(model["query_vec"], dtype=np.float64)
    np.savez(
        path,
        codebooks=model["codebooks"],
        m=np.int64(model["m"]),
        k=np.int64(model["k"]),
        **extra,
    )


def load_pq_artifact(path: str) -> dict:
    with np.load(path) as z:
        out = {
            "codebooks": z["codebooks"].astype(np.float64),
            "m": int(z["m"]),
            "k": int(z["k"]),
        }
        if "query_vec" in z:
            # The committed eval query point (in-distribution,
            # deterministic) — rides in the artifact so plan builders
            # never read corpus files at import time.
            out["query_vec"] = z["query_vec"].astype(np.float64)
        return out


def _sub_distance(emb: Column, s: int, sub: int, centroid) -> Column:
    """Squared distance of subvector s to one centroid — a LEFT-
    ASSOCIATED sum of per-component squares (Python sum() folds left,
    matching SQL's '+' chain), doubles throughout."""
    terms = []
    for j in range(sub):
        x = F.element_at(emb, s * sub + j + 1).cast("double")
        c = F.lit(float(centroid[j]))
        terms.append((x - c) * (x - c))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _sub_argmin(model: dict, s: int, emb, dim: int, payloads=None):
    """Per-subspace argmin as ONE pass over a literal centroid array:
    transform evaluates the distance lambda per element (compact
    codegen — the unrolled per-centroid expression forest compiled
    ~10x slower at tiny SF), array_min picks (dist, idx) with the
    same first-match tie-break as array_position (smaller idx wins).
    The fold starts at 0.0; 0.0 + t == t exactly for the non-negative
    squared terms, so distances stay bit-identical to the SQL twin's
    left-associated '+' chain. Returns the winning struct with fields
    d (distance), i (index) and optionally p (payload[i])."""
    books = model["codebooks"]
    k = model["k"]
    sub = dim // model["m"]
    cents = F.array(
        *[
            F.struct(
                F.array(*[F.lit(float(books[s][c][j])) for j in range(sub)]).alias(
                    "cv"
                ),
                F.lit(c).cast("long").alias("i"),
                F.lit(
                    float(payloads[c]) if payloads is not None else 0.0
                ).alias("p"),
            )
            for c in range(k)
        ]
    )
    subvec = F.slice(emb, s * sub + 1, sub)

    def _dist(c):
        return F.aggregate(
            F.zip_with(
                subvec,
                c["cv"],
                lambda x, cc: (x.cast("double") - cc) * (x.cast("double") - cc),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    scored = F.transform(
        cents,
        lambda c: F.struct(_dist(c).alias("d"), c["i"].alias("i"), c["p"].alias("p")),
    )
    return F.array_min(scored)


def pq_code_columns(model: dict, emb_col: str = "embedding", dim: int = 64):
    """(codes_str, total_err) columns: per subspace the argmin
    centroid index (first-match tie-break: array_min over (dist, idx)
    structs == array_position of the minimum) and the summed minimum
    distances."""
    m = model["m"]
    emb = F.col(emb_col)
    code_cols = []
    err_cols = []
    for s in range(m):
        best = _sub_argmin(model, s, emb, dim)
        code_cols.append(best["i"].cast("string"))
        err_cols.append(best["d"])
    total = err_cols[0]
    for e in err_cols[1:]:
        total = total + e
    return F.concat_ws(",", *code_cols), total


def adc_lookup_table(model: dict, query_vec) -> list[list[float]]:
    """ADC lookup tables for one query vector: lut[s][c] = squared
    L2 distance between the query's subvector s and centroid c —
    the m*k floats that replace all O(dim) arithmetic per database
    vector at search time (Jégou et al., 2011 §III). Driver-side
    numpy float64; model-parameter-sized (m*k values), shipped as
    literals to both engines."""
    books = model["codebooks"]
    m, k = model["m"], model["k"]
    sub = len(query_vec) // m
    lut = []
    for s in range(m):
        q = [float(x) for x in query_vec[s * sub : (s + 1) * sub]]
        row = []
        for c in range(k):
            d = 0.0
            for j in range(sub):
                t = q[j] - float(books[s][c][j])
                d += t * t
            row.append(d)
        lut.append(row)
    return lut


def pq_adc_column(
    model: dict, lut: list[list[float]], emb_col: str = "embedding", dim: int = 64
) -> Column:
    """Asymmetric-distance column: per subspace, the stored vector's
    code is its argmin centroid (same first-match semantics as
    :func:`pq_code_columns`) and the query's distance contribution is
    the LUT payload riding in the argmin struct — one pass over the
    literal centroid array per subspace, the scan-side ADC search
    kernel. Left-associated sum of m lookups, doubles throughout, so
    identical SQL reproduces every bit."""
    m = model["m"]
    emb = F.col(emb_col)
    terms = [
        _sub_argmin(model, s, emb, dim, payloads=lut[s])["p"] for s in range(m)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def pq_adc_sql(
    model: dict, lut: list[list[float]], emb_sql: str = "embedding", dim: int = 64
) -> str:
    """DuckDB twin of :func:`pq_adc_column` — same literal LUT, same
    list_position argmin, same left-associated '+' chain."""
    books = model["codebooks"]
    m, k = model["m"], model["k"]
    sub = dim // m
    terms = []
    for s in range(m):
        dlist = ", ".join(
            pq_sub_distance_sql(emb_sql, s, sub, books[s][c]) for c in range(k)
        )
        lut_lit = "[" + ", ".join(repr(float(v)) for v in lut[s]) + "]"
        terms.append(
            f"list_extract({lut_lit}, list_position([{dlist}], list_min([{dlist}])))"
        )
    return "(" + " + ".join(terms) + ")"


def pq_query_lut_sql(model: dict, emb_sql: str = "qv", dim: int = 64) -> str:
    """DuckDB twin of :func:`pq_query_lut_udf`: the same m*k
    entries in the same s-major order, each a left-associated
    '+'-chain of per-component squares (identical IEEE ops).

    Literals are emitted as ``CAST('<repr>' AS DOUBLE)`` — a BARE
    float literal is parsed by DuckDB as DECIMAL and its
    decimal->double conversion can land one ulp away from Python/
    Java's correctly-rounded strtod, which would shift LUT entries
    (and thus shortlist boundaries) off the Spark values. String->
    double casts are strtod in both engines."""
    books = model["codebooks"]
    m, k = model["m"], model["k"]
    sub = dim // m

    def _entry(s: int, c: int) -> str:
        terms = []
        for j in range(sub):
            x = f"CAST({emb_sql}[{s * sub + j + 1}] AS DOUBLE)"
            lit = f"CAST('{float(books[s][c][j])!r}' AS DOUBLE)"
            terms.append(f"({x} - {lit}) * ({x} - {lit})")
        return "(" + " + ".join(terms) + ")"

    entries = [_entry(s, c) for s in range(m) for c in range(k)]
    return "[" + ", ".join(entries) + "]"


def _sub_dists(q: np.ndarray, books: np.ndarray, s: int, sub: int) -> np.ndarray:
    """(n, k) squared L2 distances of every row's subvector ``s`` to
    the k centroids of subspace ``s`` — the squared-distance
    :func:`~dss_nlp_ingestion_spark.operators.similarity._fold`, the
    same per-component ``(x_j - c_j)^2`` '+' chain as the SQL twins
    (:func:`pq_query_lut_sql`, :func:`pq_sub_distance_sql`), bit for
    bit."""
    return _fold(q[:, None, s * sub : (s + 1) * sub], books[s][None, :, :], _sqdiff)


def pq_query_lut_udf(model: dict, dim: int = 64):
    """Per-QUERY ADC lookup table as one ``array<double>`` column of
    m*k entries (s-major: entry ``s*k + c`` is the squared L2 distance
    between the query's subvector ``s`` and codebook centroid ``c``).

    This is the batched-query form of :func:`adc_lookup_table` — the
    query vector is a COLUMN (an incoming batch), so the LUT is
    computed once per query row, and per-candidate ADC becomes m array
    lookups instead of O(dim) arithmetic (Jégou et al., 2011 §III —
    the IVFADC search kernel). One Arrow batch stage over
    :func:`_sub_dists`, bit-identical to the DuckDB twin
    :func:`pq_query_lut_sql`."""
    from pyspark.sql.types import ArrayType, DoubleType

    m = model["m"]
    sub = dim // m
    b = np.asarray(model["codebooks"], dtype=np.float64)  # (m, k, sub)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _lut(vs: pd.Series) -> pd.Series:
        q = _stack(vs)
        return pd.Series(
            list(np.concatenate([_sub_dists(q, b, s, sub) for s in range(m)], axis=1))
        )

    return _lut


def pq_code_array_udf(model: dict, dim: int = 64):
    """The m per-subspace codes as an ``array<int>`` column (0-based
    argmin indices over :func:`_sub_dists`; ``np.argmin`` keeps the
    first occurrence on ties, the same tie-break as
    :func:`pq_code_columns`' ``array_min`` and the oracles'
    ``list_position``) — the storage form ADC joins want: a probe-side
    lookup is one array load, with no per-row string split (the
    comma-string form re-parsed 16x per candidate pair in the
    shortlist stage). One Arrow batch pass."""
    from pyspark.sql.types import ArrayType, IntegerType

    m = model["m"]
    sub = dim // m
    b = np.asarray(model["codebooks"], dtype=np.float64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _codes(vs: pd.Series) -> pd.Series:
        q = _stack(vs)
        codes = np.stack(
            [_sub_dists(q, b, s, sub).argmin(axis=1) for s in range(m)], axis=1
        ).astype(np.int32)
        return pd.Series(list(codes))

    return _codes


def pq_adc_cogroup_scorer(model: dict, refine: int, query_block: int = 256):
    """Cogrouped IVFADC list scorer (the r10-named scale fix,
    SCALE.md r10 §4): one call scores ALL queries probing one
    inverted list against ALL of that list's codes, and emits each
    query's per-list top-``refine`` candidates.

    Join shape: the old form joined probe rows (query_id, lut) onto
    every candidate row, so the per-query 256-double LUT crossed the
    Arrow boundary once per (query, candidate) pair — ~586 GB of
    duplicated LUT traffic at sf10, which stalled executors past the
    heartbeat timeout. Cogrouping by ``cent_id`` ships each list's
    code block ONCE per group and each query's LUT once per probed
    list (n_probe rows), i.e. transfer is O(index + batch x n_probe)
    instead of O(batch x corpus).

    Correctness: the ADC value is accumulated s-sequentially with
    plain numpy elementwise adds — the same left-associated '+' chain
    as the oracle's :func:`pq_adc_from_lut_sql`, so every emitted
    double is bit-identical to the DuckDB oracle. Emitting only the per-(query, list)
    top-``refine`` under the (adc ASC, neighbor_id ASC) total order
    is lossless for the global per-query top-``refine``: the rows of
    one list that survive the global cut form a prefix of that list's
    own ordering, so they are all inside its per-list prefix.

    ``query_block`` caps kernel memory: the (queries x list) score
    matrix is built in blocks (256 x ~6k doubles ~= 13 MB), so task
    memory stays flat however large the probing batch grows."""
    m, k = model["m"], model["k"]

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "_adc": pd.Series([], dtype="float64"),
            }
        )

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return _empty()
        luts = np.stack([np.asarray(v, dtype=np.float64) for v in left["_lut"]])
        codes = np.stack(
            [np.asarray(c, dtype=np.int64) for c in right["codes"]]
        )  # (L, m)
        nbr = right["neighbor_id"].to_numpy(dtype=np.int64)
        qids = left["query_id"].to_numpy(dtype=np.int64)
        n_keep = min(refine, len(nbr))
        out_q, out_n, out_a = [], [], []
        for lo in range(0, len(qids), query_block):
            lut_blk = luts[lo : lo + query_block]  # (b, m*k)
            # s-sequential left-associated accumulation — bit-identical
            # per element to the '+' chain of pq_adc_from_lut_sql.
            acc = lut_blk[:, 0 * k + codes[:, 0]]
            for s in range(1, m):
                acc = acc + lut_blk[:, s * k + codes[:, s]]
            for i in range(acc.shape[0]):
                order = np.lexsort((nbr, acc[i]))[:n_keep]
                out_q.append(np.full(n_keep, qids[lo + i], dtype=np.int64))
                out_n.append(nbr[order])
                out_a.append(acc[i][order])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "_adc": np.concatenate(out_a),
            }
        )

    return score


def pq_adc_from_lut_sql(
    model: dict, lut_sql: str = "l.lut", clist_sql: str = "k.clist"
) -> str:
    """ADC distance of one (query, candidate) pair in DuckDB: a
    left-associated '+' chain of m lookups into the query's LUT list.
    ``clist`` holds 1-BASED codes (list_position output), so
    ``s*k + clist[s+1]`` is the 1-based LUT index matching
    :func:`pq_adc_cogroup_scorer`'s 0-based ``s*k + code``."""
    m, k = model["m"], model["k"]
    terms = [
        f"list_extract({lut_sql}, {s * k} + list_extract({clist_sql}, {s + 1}))"
        for s in range(m)
    ]
    return "(" + " + ".join(terms) + ")"


def pq_codes_list_sql(model: dict, emb_sql: str = "embedding", dim: int = 64) -> str:
    """DuckDB twin of the encoder for ADC joins: the m per-subspace
    codes as a LIST of 1-based positions (list_position first-match
    argmin — same tie-break as :func:`pq_code_columns`)."""
    books = model["codebooks"]
    m, k = model["m"], model["k"]
    sub = dim // m
    exprs = []
    for s in range(m):
        dlist = ", ".join(
            pq_sub_distance_sql(emb_sql, s, sub, books[s][c]) for c in range(k)
        )
        exprs.append(f"list_position([{dlist}], list_min([{dlist}]))")
    return "[" + ", ".join(exprs) + "]"


def pq_sub_distance_sql(
    emb_sql: str, s: int, sub: int, centroid
) -> str:
    """DuckDB twin of :func:`_sub_distance` — same left-associated
    expression tree, same literal centroids."""
    terms = [
        f"(CAST({emb_sql}[{s * sub + j + 1}] AS DOUBLE) - {float(centroid[j])!r})"
        f" * (CAST({emb_sql}[{s * sub + j + 1}] AS DOUBLE) - {float(centroid[j])!r})"
        for j in range(sub)
    ]
    return "(" + " + ".join(terms) + ")"
