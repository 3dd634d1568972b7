"""Capture ``explain("formatted")`` for bench-suite entries.

Writes one ``<out_dir>/<key>_<tag>.txt`` per entry (tag = before/after),
using the same EngineConfig + per-entry exec_conf the bench applies, so
the captured plan is the plan the bench times. DataFrame-building
side-effect entries (matview/CDC/YCSB-write classes) capture the plan of
their final read.

Usage: python tools/capture_plans.py <out_dir> <tag> [name_filter,names...]

``out_dir`` is the round's plan directory, e.g. ``plans/r14``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, tag = sys.argv[1], sys.argv[2]
    only = [
        p.strip() for p in (sys.argv[3] if len(sys.argv) > 3 else "").split(",")
        if p.strip()
    ]
    os.makedirs(out_dir, exist_ok=True)

    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine

    cfg = EngineConfig(
        app_name="swanlake-plan-capture",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=int(
            os.environ.get("SWL_BENCH_SHUFFLE_PARTITIONS", "8")
        ),
    )
    eng = Engine(config=cfg)
    eng.spark.sparkContext.setLogLevel("ERROR")
    spark = eng.spark

    # Mirror bench.py's warehouse materialization so scans match.
    if os.environ.get("SWL_BENCH_MATERIALIZE", "1") != "0":
        import tempfile

        from swanlake_spark.queries.oracle import mark_registered
        from swanlake_spark.sources.registry import materialize_warehouse

        materialize_warehouse(
            spark, SF_DIR, tempfile.mkdtemp(prefix="swl_plan_wh_")
        )
        mark_registered(spark, SF_DIR)

    suite = _bench_suite(spark)

    from contextlib import contextmanager

    @contextmanager
    def exec_profile(spec):
        conf = getattr(spec, "exec_conf", None) or {}
        saved = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    for key, spec in suite.items():
        if only and not any(p in key for p in only):
            continue
        try:
            with exec_profile(spec):
                df = spec.build(spark, SF_DIR)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            path = os.path.join(out_dir, f"{key}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange)")
        except Exception as exc:  # pragma: no cover - capture tool
            print(f"SKIP {key}: {exc}")
    eng.stop()


def _bench_suite(spark):
    """The bench.py suite minus the write-path/YCSB-write entries (their
    'plan' is a DML program, not one DataFrame)."""
    from swanlake_spark.queries.pipeline import PIPELINE_QUERIES
    from swanlake_spark.queries.tpch import TPCH_QUERIES
    from swanlake_spark.queries.ycsb import YCSB_QUERIES

    suite: dict[str, object] = {}
    for n in range(1, 23):
        suite[f"q{n}"] = TPCH_QUERIES[f"tpch_q{n}"]
    for key, pname in [
        ("dedup_exact", "pipe_dedup_exact"),
        ("dedup_minhash_lsh", "pipe_dedup_minhash_lsh"),
        ("text_quality", "pipe_text_quality"),
        ("select_top_tokens", "pipe_select_top_tokens"),
        ("sim_cosine_topk", "pipe_sim_cosine_topk"),
        ("multimodal_decode", "pipe_multimodal_decode"),
        ("sketch_heavy_hitters", "pipe_heavy_hitters"),
        ("span_decontaminate", "pipe_span_decontaminate"),
    ]:
        suite[key] = PIPELINE_QUERIES[pname]
    suite["ycsb_point_read"] = YCSB_QUERIES["ycsb_point_read"]
    suite["ycsb_scan"] = YCSB_QUERIES["ycsb_scan"]

    # Reuse bench.py's inline entry classes via a tiny shim: re-create
    # them by calling main()'s builders is not possible, so mirror the
    # stable ones here by importing the operators directly.
    from pyspark.sql import functions as F

    from swanlake_spark.operators import (
        curation,
        dedup,
        sketch,
        text,
        tokenizer,
        validate as V,
    )
    from swanlake_spark.operators import similarity, span_dedup as SD
    from swanlake_spark.queries.oracle import ensure_tables

    class _E:
        def __init__(self, fn):
            self.build = fn
            self.exec_conf = None

    def emb_dedup(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        kept = dedup.embedding_dedup(spark.table("embeddings"), threshold=0.45)
        return kept.groupBy().count()

    def kmv_overlap(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        docs = spark.table("documents")
        tok = docs.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(text.tokens("text")).alias("tk"),
        )
        k = 1024
        sk = sketch.kmv_sketch(tok, "tk", k=k, by=["half"])
        a = sk.where(F.col("half") == 0).select(F.col("kmv").alias("ka"))
        b = sk.where(F.col("half") == 1).select(F.col("kmv").alias("kb"))
        return (
            a.crossJoin(b)
            .select(sketch.kmv_set_ops(F.col("ka"), F.col("kb"), k).alias("o"))
            .select("o.intersect_est", "o.union_est", "o.jaccard")
        )

    def hist_quantile(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        li = spark.table("lineitem")
        sk = sketch.histogram_sketch(
            li, "l_extendedprice", bins=1024, lo=900.0, hi=105000.0,
            by=["l_returnflag"],
        )
        return sk.select(
            "l_returnflag",
            *[
                sketch.hist_quantile(
                    F.col("counts"), F.col("lo"), F.col("hi"), q
                ).alias(f"q{int(q * 100)}")
                for q in (0.5, 0.9, 0.99)
            ],
        )

    def decontaminate(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        docs = spark.table("documents")
        bench_docs = docs.filter(F.col("doc_id") % 7 == 0)
        corpus = docs.filter(F.col("doc_id") % 7 != 0)
        return curation.decontaminate(corpus, bench_docs, n=6).groupBy().count()

    def shuffle(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        sh = curation.deterministic_shuffle(spark.table("documents"))
        return sh.agg(F.max("shuffle_pos").alias("mx"), F.count("*").alias("n"))

    def line_dedup(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        out = curation.line_dedup(spark.table("documents"))
        return out.agg(
            F.count("*").alias("docs"), F.sum("n_dropped").alias("dropped")
        )

    def chunk(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        ch = curation.chunk_documents(
            spark.table("documents"), chunk_tokens=128, overlap=16
        )
        return ch.agg(
            F.count("*").alias("chunks"), F.sum("n_tokens").alias("tokens")
        )

    def span_strip(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        out = SD.strip_duplicate_spans(spark.table("documents"), min_tokens=8)
        return out.agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens_removed").alias("removed"),
        )

    def validate_exp(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        return V.validate(spark.table("orders"), [
            V.rules.not_null("o_orderkey"),
            V.rules.unique("o_orderkey"),
            V.rules.in_range("o_totalprice", lo=0.0, hi=600000.0),
            V.rules.in_set("o_orderstatus", "O", "F", "P"),
            V.rules.ref_integrity(
                "o_custkey", spark.table("customer"), "c_custkey"
            ),
        ])

    def vocab(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        return text.build_vocab(spark.table("documents"), top_k=1000)

    def tfidf(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        out = text.tfidf_top_terms(spark.table("documents"), n_per_doc=3)
        return out.agg(F.count("*").alias("n"), F.sum("tfidf").alias("s"))

    def bpe(spark, sf_dir):
        ensure_tables(spark, sf_dir)
        docs = spark.table("documents")
        _, segmented = tokenizer.train_bpe(docs, n_merges=64, merge_batch=16)
        enc = tokenizer.encode(docs, segmented)
        return enc.agg(
            F.count("*").alias("docs"), F.sum("n_tokens").alias("toks")
        )

    def pq_search(spark, sf_dir):
        # mirrors bench._PqSearch: codebooks train outside the plan
        # (an index build), the captured plan is the ADC search
        ensure_tables(spark, sf_dir)
        emb = spark.table("embeddings")
        books = similarity.pq_codebooks(emb, m=8, k=16, dim=64)
        query = [float(x) for x in emb.orderBy("vec_id").first().embedding]
        coded = similarity.pq_encode(emb, books)
        return similarity.pq_topk(coded, query, books, k=10)

    suite["sim_pq_adc_topk"] = _E(pq_search)
    suite["dedup_embedding_lsh"] = _E(emb_dedup)
    suite["sketch_kmv_overlap"] = _E(kmv_overlap)
    suite["sketch_hist_quantile"] = _E(hist_quantile)
    suite["curation_decontaminate"] = _E(decontaminate)
    suite["curation_shuffle"] = _E(shuffle)
    suite["curation_line_dedup"] = _E(line_dedup)
    suite["curation_chunk"] = _E(chunk)
    suite["dedup_span_strip"] = _E(span_strip)
    suite["validate_expectations"] = _E(validate_exp)
    suite["text_vocab_top1k"] = _E(vocab)
    suite["text_tfidf_top3"] = _E(tfidf)
    suite["bpe_train_encode_64"] = _E(bpe)
    return suite


if __name__ == "__main__":
    main()
