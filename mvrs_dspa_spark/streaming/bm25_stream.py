"""Streaming BM25 inverted-index maintenance (§2e 29ar; the
continuous form of `operators/retrieval.bm25_search`, #62).

The recurring-crawl shape: documents arrive append-only in
micro-batches, and the retrieval index is MAINTAINED, never rebuilt.
State is exactly the batch plan's intermediates — (a) the
filter-before-explode posting relation (doc_id, dl, tok, tf) for the
query vocabulary, bounded by |docs| x |terms| rows (appended
per-batch: each document contributes its postings once), and (b) the
1-row corpus stats as exact integer accumulators (n_docs, sum_dl).
`report()` serves through the SHARED `bm25_from_postings` scoring
tail with avgdl = sum_dl / n_docs — the same double the batch query's
AVG(dl) produces while sum_dl < 2^53 (integer-valued doubles sum
exactly, so summation order cannot move it), hence a replayed corpus
reproduces the registered batch ranking BIT-FOR-BIT (pytest-pinned,
along with replay-order independence and save/load restart).

Append-only contract: a re-delivered or updated doc_id would double-
count (postings append, stats add) — deduplicate upstream (streaming
dedup 29g) or route updates through the CDC path; documented, not
hidden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import text as T
from mvrs_dspa_spark.operators.retrieval import (
    GATE_QUERY_TERMS,
    TOP_N,
    bm25_from_postings,
)
from mvrs_dspa_spark.streaming.monitor import Monitor

POSTINGS_SCHEMA = "doc_id long, dl int, tok string, tf long"
DOCLEN_SCHEMA = "doc_id long, dl int"


class Bm25IndexMaintainer(Monitor):
    """Accumulates query-vocabulary postings + corpus stats across
    micro-batches; `report()` serves the batch query's exact ranked
    table."""

    # doclen: per-doc lengths (every doc, postings or not), the stats
    # source AND what makes erasure exact for posting-free docs
    STATE = {
        "postings": (POSTINGS_SCHEMA, "tok"),
        "doclen": (DOCLEN_SCHEMA, "doc_id"),
    }

    def __init__(self, spark) -> None:
        self.n_docs = 0
        self.sum_dl = 0
        super().__init__(spark)

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        toks = batch_df.select(
            "doc_id", T.tokens_col(F.lower(F.col("text"))).alias("toks")
        )
        # ONE tokenize pass per micro-batch (r11): the projection feeds
        # three consumers (doclen union, the n/sum-dl stats agg, the
        # postings delta), each of which re-ran the tokenize before —
        # the eager checkpoint materializes the batch-bounded token
        # arrays once and every consumer reads the materialized rows.
        dl = toks.select(
            "doc_id", "toks", F.size("toks").alias("dl")
        ).localCheckpoint(eager=True)
        stats = dl.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
        ).collect()[0]
        term_arr = F.array(*[F.lit(t) for t in GATE_QUERY_TERMS])
        delta = (
            dl.select(
                "doc_id",
                "dl",
                F.explode(
                    F.filter(
                        F.col("toks"),
                        lambda t: F.array_contains(term_arr, t),
                    )
                ).alias("tok"),
            )
            .groupBy("doc_id", "dl", "tok")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        self.n_docs += int(stats.n)
        self.sum_dl += int(stats.s)
        return {
            "postings": self.postings.unionByName(delta),
            "doclen": self.doclen.unionByName(dl.select("doc_id", "dl")),
        }

    def report(self, top_n: int = TOP_N) -> DataFrame:
        """Ranked BM25 table through the SAME scoring tail the batch
        query uses, from the maintained index."""
        stats = self.spark.createDataFrame(
            [(self.n_docs, self.sum_dl)], "n_docs long, sum_dl long"
        ).select(
            "n_docs",
            (F.col("sum_dl") / F.col("n_docs").cast("double")).alias(
                "avgdl"
            ),
        )
        return bm25_from_postings(self.postings, stats, top_n)

    def erase_docs(self, doc_ids) -> None:
        """GDPR/right-to-be-forgotten for the index: drop the docs'
        postings AND back out their dl/doc contributions from the
        stats accumulators via the per-doc length table (exact for
        EVERY doc, including posting-free ones — unlike the
        counts-only drift grids)."""
        ids = [int(d) for d in doc_ids]
        if not ids:
            return
        gone = self.doclen.where(F.col("doc_id").isin(ids)).collect()
        self.postings = self.postings.where(
            ~F.col("doc_id").isin(ids)
        ).localCheckpoint(eager=True)
        self.doclen = self.doclen.where(
            ~F.col("doc_id").isin(ids)
        ).localCheckpoint(eager=True)
        self.n_docs -= len(gone)
        self.sum_dl -= sum(r.dl for r in gone)

    def save(self, path: str) -> None:
        """The frames, plus the scalar corpus stats at `path/stats`."""
        super().save(path)
        self.spark.createDataFrame(
            [(self.n_docs, self.sum_dl)], "n_docs long, sum_dl long"
        ).write.mode("overwrite").parquet(f"{path}/stats")

    @classmethod
    def load(cls, spark, path: str, *args) -> "Bm25IndexMaintainer":
        mon = super().load(spark, path, *args)
        r = spark.read.parquet(f"{path}/stats").collect()[0]
        mon.n_docs, mon.sum_dl = int(r.n_docs), int(r.sum_dl)
        return mon

