"""corpus_batch: a one-shot corpus build over a replicated documents table.

One client, one pass: quality gate, near-duplicate pairs (exact 3-gram
Jaccard and MinHash-LSH), connected components over the Jaccard pairs,
BPE training and vocabulary, token-id encoding, and 1024-token packed
windows.  Each step's output is materialized (``localCheckpoint``) inside
its span, so a step's time is its own; outputs are checked afterwards
against the repository's DuckDB oracles.
"""

from __future__ import annotations

from perfbench import checks, gen
from perfbench.harness import Ctx
from perfbench.trace import span_jobs

BASE_DOCS = 600
SCALE = 2  # replicas, by the ramp rule (disjoint token spaces)
NUM_MERGES = 10  # the oracle suite's BPE depth (ORACLES' bpe_* queries)
CAPACITY = 1024
WARMUP_DOCS = 50

STEPS = (
    "operators.text.gopher_quality",
    "operators.dedup.ngram_jaccard_pairs",
    "operators.dedup.minhash_lsh_pairs",
    "operators.cluster.connected_components",
    "operators.bpe.bpe_train",
    "operators.bpe.bpe_vocab",
    "operators.bpe.bpe_encode_ids",
    "operators.packing.materialize_packed_windows",
)


def run(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from cassandra_util_spark.entry_queries import ORACLES
    from cassandra_util_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_merge_table,
        bpe_train,
        bpe_vocab,
    )
    from cassandra_util_spark.operators.cluster import connected_components
    from cassandra_util_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from cassandra_util_spark.operators.packing import materialize_packed_windows
    from cassandra_util_spark.operators.text import gopher_quality

    spark = ctx.start_spark()

    # ---- set-up: a fresh replica of a seeded slice of sf0.1 documents --------
    base = gen.base_corpus(ctx.seed, BASE_DOCS)
    docs = gen.replicate_corpus(ctx.seed, base, SCALE)
    path = ctx.path("input", "documents")
    ctx.props.update({"docs": len(docs), "replicas": SCALE,
                      "doc_ids": f"{base[0]['doc_id']}..{base[-1]['doc_id']}",
                      # one file per replica, as build_ramp's union of replicas writes
                      "bytes_in": gen.write_parts(path, docs, gen.DOCS_SCHEMA, SCALE),
                      **gen.corpus_properties(base)})
    d = spark.read.parquet(path)
    # warm-up: the session's first jobs (JVM code paths, Python workers)
    # run here, so they count in setup_s and not in the first step
    gopher_quality(d.limit(WARMUP_DOCS), "doc_id", "text").count()

    # ---- timed phase: one pass ----------------------------------------------
    out: dict = {}

    def step(name, fn):
        s, v = ctx.op(name, fn)
        out[name] = v
        return v

    step(STEPS[0], lambda: gopher_quality(d, "doc_id", "text").localCheckpoint())
    pairs = step(STEPS[1], lambda: ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5).localCheckpoint())
    step(STEPS[2], lambda: minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.5).localCheckpoint())
    step(STEPS[3], lambda: connected_components(pairs).localCheckpoint())
    merges, words = step(STEPS[4], lambda: bpe_train(d, "text", num_merges=NUM_MERGES))
    vocab = step(STEPS[5], lambda: bpe_vocab(spark, words, merges).localCheckpoint())
    enc = step(STEPS[6], lambda: bpe_encode_ids(
        d, "doc_id", "text", words, vocab).localCheckpoint())
    win = step(STEPS[7], lambda: materialize_packed_windows(
        enc, "doc_id", "token_ids", capacity=CAPACITY, distributed=True).localCheckpoint())
    spans = {s.name: s for s in ctx.tracer.spans if s.name in STEPS}
    wall = sum(s.busy_s for s in spans.values())

    ctx.end_timed()
    # ---- output checks (untimed) -------------------------------------------
    con = checks.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")

    def ids_text(df, col="token_ids"):
        return df.withColumn(col, F.concat_ws(" ", F.transform(col, lambda x: x.cast("string"))))

    # (oracle query, the step whose output it checks, the output as the query renders it)
    renders = [
        ("gopher_quality_gate", STEPS[0], lambda: out[STEPS[0]]),
        ("dedup_ngram_jaccard", STEPS[1], lambda: out[STEPS[1]]),
        ("dedup_minhash_lsh", STEPS[2], lambda: out[STEPS[2]]),
        ("bpe_learned_merges", STEPS[4], lambda: bpe_merge_table(spark, merges)),
        ("bpe_vocab_ids", STEPS[5], lambda: out[STEPS[5]]),
        ("bpe_encode_ids_corpus", STEPS[6],
         lambda: ids_text(enc.select("doc_id", "token_ids", "n_tokens"))),
        ("packed_training_windows", STEPS[7], lambda: ids_text(win.select(
            "bin", F.col("n_docs").cast("bigint").alias("n_docs"), "n_tokens", "token_ids"))),
    ]
    for name, step_name, render in renders:
        def check(name=name, step_name=step_name, render=render):
            got = render().toPandas()
            spans[step_name].attrs["rows"] = len(got)
            return checks.oracle_problems(con, name, got)

        ctx.guarded_check(f"{name} vs ORACLES[{name!r}]", check)
    ctx.guarded_check("connected_components vs union-find over the oracle's Jaccard pairs",
                      lambda: checks.components_problems(
                          con.sql(ORACLES["dedup_ngram_jaccard"]).df(), out[STEPS[3]].toPandas()))

    ctx.props.update({"jaccard_pairs": spans[STEPS[1]].attrs.get("rows"),
                      "minhash_pairs": spans[STEPS[2]].attrs.get("rows")})
    ctx.mark("checks")
    e2e = {"rows_per_s": (len(docs) / wall, "rows/s")}
    layer = {}
    if ctx.traced:
        jobs = ctx.harvest()
        for name, s in spans.items():
            js = span_jobs(s, jobs)
            layer[f"{name}.busy_s"] = s.busy_s
            layer[f"{name}.jobs"] = len(js)
            layer[f"{name}.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in js)
    return {"e2e": e2e, "tails": {}, "layer": layer}

