"""The benchmark's workloads: what one operation is, how a pass is
made of operations, and how each delivered result is checked.

Both drive the package only through its public functions:

- ``analytics``: registered read queries (``plans.QUERIES`` /
  ``SETUPS`` / ``PROBES``), each ending in ``collect()``, checked
  against its DuckDB oracle (``plans.ORACLES``).
- ``ingest``: scraped batches through the parsers, text
  normalization, the short-text gate, exact dedup, NLP enrichment and
  an insert-only ``txlog.merge_into_table``, ending in a snapshot read
  of the batch's committed rows, checked against the generator's
  reference model.
"""

from __future__ import annotations

import collections
import os
from dataclasses import dataclass, field

from perfbench import gen

#: Analytics pass, in order: relational, event and document queries.
#: Eight of the sixteen the design names, so that a run (set-up, cold
#: pass, steady pass, oracle check) stays under a minute on 4 cores;
#: README.md lists the eight left out.
ANALYTICS_QUERIES = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "topk_orders_per_segment",
    "asof_last_click_before_purchase",
    "json_props_agg",
    "flagship_doc_profile_txlog",
    "keyword_model_topk",
)
#: Scale of the generated analytics tables (sf0.1 has 600k lineitem rows).
ANALYTICS_SF = 0.1

KEY = "unique_identifier"
#: Anchor text of the embedding's cosine column.
ANCHOR = "market stock price growth"
CHECK_COLS = (KEY, "text_hash", "sentiment", "topic", "topic_margin",
              "emb_sha", "anchor_cos", "used_model")


@dataclass
class Op:
    """One timed operation and what it delivered."""

    name: str
    item: object  # the query name, or the ingest batch
    op_id: str
    pass_index: int
    traced: bool
    latency_s: float = 0.0
    rows: list | None = None
    error: str | None = None
    ok: bool | None = None
    df: object = None  # the collected DataFrame of a traced op (Catalyst phases)
    extra: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

class Analytics:
    name = "analytics"

    def __init__(self, work: str, seed: int, queries=ANALYTICS_QUERIES,
                 sf: float = ANALYTICS_SF):
        self.queries = list(queries)
        self.sf_dir = os.path.join(work, "tables")
        self.sf = sf
        self.table_bytes = gen.write_tables(seed, sf, self.sf_dir)
        self.store: str | None = None

    def prepare(self, spark, tracer) -> None:
        from dss_nlp_ingestion_spark.plans import QUERIES  # noqa: F401 — fills the registry

        self.spark, self.tracer = spark, tracer

    def pass_items(self) -> list[tuple[str, object]]:
        return [(q, q) for q in self.queries]

    def run_op(self, op: Op) -> None:
        from dss_nlp_ingestion_spark.plans import QUERIES
        from dss_nlp_ingestion_spark.plans.registry import PROBES, SETUPS

        tr = self.tracer
        with tr.span("op", op=op.op_id):
            with tr.span("plans.build"):
                if op.name in SETUPS:
                    ctx = SETUPS[op.name](self.spark, self.sf_dir)
                    df = PROBES[op.name](self.spark, ctx)
                else:
                    ctx = None
                    df = QUERIES[op.name](self.spark, self.sf_dir)
            with tr.span("exec.collect"):
                op.rows = df.collect()
        if op.traced:
            op.df = df
        op.extra["columns"] = df.columns
        if op.name == "flagship_doc_profile_txlog":
            self.store = ctx[1]  # (sf_dir, txlog table path)

    def check(self, ops: list[Op]) -> None:
        """Compare each delivered result, order-insensitively, with
        the query's DuckDB oracle on the same generated tables."""
        import duckdb

        from dss_nlp_ingestion_spark.plans import ORACLES
        from tools.oracle_sweep import _normalize

        con = duckdb.connect()
        try:
            for t in gen.table_shapes(self.sf):
                if t == "users":
                    continue
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            expected: dict[str, tuple] = {}
            for op in ops:
                if op.error is not None:
                    op.ok = False
                    continue
                if op.name not in expected:
                    res = con.execute(ORACLES[op.name])
                    cols = [d[0] for d in res.description]
                    expected[op.name] = _normalize(cols, res.fetchall())
                got = _normalize(op.extra["columns"], [tuple(r) for r in op.rows])
                op.ok = got == expected[op.name]
                if not op.ok:
                    op.error = "result differs from the DuckDB oracle"
        finally:
            con.close()

    def delivered(self, op: Op) -> int:
        return len(op.rows or ())

    def input_bytes(self) -> int:
        return self.table_bytes["documents"]

    def output_bytes(self) -> int:
        return dir_bytes(self.store) if self.store else 0

    def txlog_counts(self, ops: list[Op]) -> dict[str, float]:
        """None: the benchmark makes no txlog call of its own here."""
        return {}

    def shape(self) -> dict:
        return {
            "sf": self.sf,
            "rows": gen.table_shapes(self.sf),
            "parquet_bytes": self.table_bytes,
            **gen.TABLE_PLANTED,
            "queries": self.queries,
        }


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def normalize_text(col):
    """``functions.text`` normalization of a document body: cashtags
    and URLs stripped, full-width folded, punctuation runs collapsed."""
    from dss_nlp_ingestion_spark.functions import text as T

    return T.collapse_punct_runs(T.fold_fullwidth(T.strip_cashtags_and_urls(col)))


class Enricher:
    """``functions.nlp`` enrichment: quantized sentiment, topic, and the
    default (coverage-gated) text embedding, from the shipped
    artifacts."""

    def __init__(self):
        from dss_nlp_ingestion_spark.functions import nlp as N

        self.sentiment = N.quantized_sentiment_udf(
            N.load_sentiment_artifact(N.DEFAULT_SENTIMENT_ARTIFACT)
        )
        self.topic = N.quantized_topic_udf(N.load_topic_artifact(N.DEFAULT_TOPIC_ARTIFACT))
        self.embed = N.gated_text_embedding_udf(
            N.load_encoder_artifact(N.DEFAULT_ENCODER_ARTIFACT), ANCHOR
        )

    def __call__(self, df):
        from pyspark.sql import functions as F

        text = F.col("text")
        out = df.select(
            "*",
            self.sentiment(text).alias("sentiment"),
            self.topic(text).alias("_topic"),
            self.embed(text).alias("_emb"),
        )
        return out.select(
            *df.columns,
            "sentiment",
            F.col("_topic.topic").alias("topic"),
            F.col("_topic.margin").alias("topic_margin"),
            F.col("_emb.emb_sha").alias("emb_sha"),
            F.col("_emb.anchor_cos").alias("anchor_cos"),
            F.col("_emb.used_model").alias("used_model"),
        )


class Ingest:
    name = "ingest"

    def __init__(self, work: str, seed: int, shape: dict | None = None):
        self.path = os.path.join(work, "store", "documents")
        self.stream = gen.IngestStream(seed, shape)
        self.batches: list[gen.Batch] = []

    def prepare(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.enrich = Enricher()
        self.universe = self.spark.createDataFrame(
            [(t,) for t in gen.UNIVERSE], "ticker_symbol string"
        )

    def pass_items(self) -> list[tuple[str, object]]:
        """A pass is one batch: a batch costs about 200 Python tasks
        (README.md), so one per pass keeps a run within budget."""
        batch = self.stream.batch()
        self.batches.append(batch)
        return [("batch", batch)]

    def pipeline(self, batch: gen.Batch):
        """Raw payloads -> enriched, deduplicated document rows."""
        from pyspark.sql import functions as F

        from dss_nlp_ingestion_spark.functions.text import (
            content_hash,
            stable_id_hash,
            token_count,
        )
        from dss_nlp_ingestion_spark.operators.dedup import exact_dedup
        from dss_nlp_ingestion_spark.sources import parsers
        from dss_nlp_ingestion_spark.sources.extract import extract_article

        def raw(kind):
            return self.spark.createDataFrame(
                [(p,) for p in batch.payloads[kind]], "payload string"
            )

        cols = [KEY, "source", "source_id", "title", "description", "text",
                "text_hash", "time"]
        # An article page has no parser of its own: its id rides in a
        # trailing comment, its body comes from the article extractor.
        sid = F.regexp_extract("payload", r"<!--(.*?)-->", 1)
        title = F.regexp_extract("payload", r"<title>(.*?)</title>", 1)
        body = extract_article(F.col("payload"))
        html = raw("html").select(
            stable_id_hash(sid).alias(KEY),
            F.lit("html").alias("source"),
            sid.alias("source_id"),
            title.alias("title"),
            F.lit(None).cast("string").alias("description"),
            body.alias("text"),
            content_hash(title, body).alias("text_hash"),
            F.lit(None).cast("timestamp").alias("time"),
        )
        docs = (
            parsers.parse_newsfilter(raw("newsfilter")).select(cols)
            .unionByName(parsers.parse_pushshift(raw("pushshift"), self.universe).select(cols))
            .unionByName(parsers.parse_eastmoney(raw("eastmoney")).select(cols))
            .unionByName(html)
        )
        normalized = docs.withColumn("text", normalize_text(F.col("text")))
        gated = normalized.filter(token_count(F.col("text")) > 5)
        deduped = exact_dedup(gated, ["text"], KEY)
        return self.enrich(deduped).withColumn("batch", F.lit(batch.index))

    def run_op(self, op: Op) -> None:
        from pyspark.sql import functions as F

        from dss_nlp_ingestion_spark.sources import txlog

        batch = op.item
        tr = self.tracer
        with tr.span("op", op=op.op_id):
            with tr.span("plans.build"):
                df = self.pipeline(batch)
            if batch.index == 0:
                with tr.span("txlog.create"):
                    txlog.create_table(df.limit(0), self.path, stats_cols=[KEY])
            with tr.span("txlog.merge"):
                summary = txlog.merge_into_table(
                    self.spark, self.path, df, [KEY], insert_only=True, stats_cols=[KEY]
                )
            with tr.span("txlog.read"):
                snap = txlog.read(self.spark, self.path).where(
                    F.col("batch") == batch.index
                ).select(*CHECK_COLS)
            with tr.span("exec.collect"):
                op.rows = snap.collect()
        if op.traced:
            op.df = snap
        op.extra["merge"] = summary

    def check(self, ops: list[Op]) -> None:
        """Each batch's committed rows must be exactly the reference
        model's newly accepted documents (key, content hash), with the
        enrichment the same functions give when applied once to the
        whole accepted set; the final snapshot must hold exactly the
        union."""
        from pyspark.sql import functions as F

        from dss_nlp_ingestion_spark.sources import txlog

        accepted = gen.accepted(self.batches)
        every = [d for docs in accepted for d in docs]
        ref_df = self.spark.createDataFrame(
            [(d.key, d.text) for d in every], f"{KEY} string, text string"
        )
        ref_df = self.enrich(ref_df.withColumn("text", normalize_text(F.col("text"))))
        ref = {
            r[KEY]: tuple(r[c] for c in CHECK_COLS[2:])
            for r in ref_df.select(KEY, *CHECK_COLS[2:]).collect()
        }
        for op in ops:
            if op.error is not None:
                op.ok = False
                continue
            want = collections.Counter(
                (d.key, d.content_hash) + ref[d.key] for d in accepted[op.item.index]
            )
            got = collections.Counter(tuple(r) for r in op.rows)
            op.ok = got == want
            if not op.ok:
                op.error = f"batch rows differ from the reference ({len(got)} vs {len(want)})"
        snap = txlog.read(self.spark, self.path).select(KEY, "text_hash").collect()
        want_all = collections.Counter((d.key, d.content_hash) for d in every)
        if collections.Counter(tuple(r) for r in snap) != want_all and ops:
            ops[-1].ok = False
            ops[-1].error = "; ".join(
                filter(None, (ops[-1].error, "final snapshot differs from the accepted set"))
            )

    def delivered(self, op: Op) -> int:
        return len(op.rows or ())

    def input_bytes(self) -> int:
        accepted = gen.accepted(self.batches)
        return sum(
            len("".join(p for p in (d.title, d.description, d.text) if p).encode())
            for docs in accepted for d in docs
        )

    def output_bytes(self) -> int:
        return dir_bytes(self.path)

    def txlog_counts(self, ops: list[Op]) -> dict[str, float]:
        """Commit-log counters for ``ops`` (from the summaries
        ``merge_into_table`` returned and the log's history)."""
        from dss_nlp_ingestion_spark.sources import txlog

        versions = {o.extra["merge"]["version"] for o in ops if "merge" in o.extra}
        hist = {h.get("version"): h for h in txlog.history(self.path)}
        out = collections.Counter()
        for o in ops:
            m = o.extra.get("merge")
            if not m:
                continue
            out["txlog.files_touched"] += m["files_touched"]
            out["txlog.files_skipped"] += m["files_skipped_by_stats"]
            out["txlog.files_total"] += m["files_total"]
        for v in versions:
            h = hist.get(v, {})
            out["txlog.commits"] += 1
            out["txlog.files_added"] += h.get("n_add", 0)
        out["txlog.log_entries"] = len(hist)
        out["txlog.table_bytes"] = dir_bytes(self.path)
        return dict(out)

    def shape(self) -> dict:
        return {
            **gen.batch_shape_record(self.stream.shape),
            "batches_per_pass": 1,
            "batches_run": len(self.batches),
            "payload_bytes": sum(b.payload_bytes for b in self.batches),
            "accepted_docs": sum(len(a) for a in gen.accepted(self.batches)),
            "accepted_content_bytes": self.input_bytes(),
        }


WORKLOADS = {"analytics": Analytics, "ingest": Ingest}
