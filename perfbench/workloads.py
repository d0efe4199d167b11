"""The benchmark's workloads. Each one generates its inputs from a seed,
loads them (the measured set-up), runs one job per call, checks the job's
output, and in traced runs wraps the library's layer entry points in spans.

A job returns a result dict; ``check`` compares it with the checks below and
with the run's first result (every job of a run must agree with it);
``release`` frees what the job persisted.
"""

from __future__ import annotations

import contextlib
import math

from inputs import write_crawl, write_transcripts
from spans import cached_mb

# the 12-rule merge table the chain encodes with
BPE_RULES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"),
]
BLOCK_TOKENS = 512
KERNEL_ITERATIONS = 10


@contextlib.contextmanager
def instrument(tracer):
    """Route the selection layers' entry points through spans for the
    duration of the block, then restore them."""
    import powershap_spark.engine as engine
    import powershap_spark.operators.salted as salted

    backend = engine.SparkExplainBackend
    init = backend.__init__

    def traced_init(self, *args, **kwargs):
        with tracer.span("engine.backend_init") as s:
            init(self, *args, **kwargs)
            s.counters["cached_mb"] = cached_mb(tracer.jsc)

    patches = [
        (salted, "detect_hot_keys", tracer.wrap(salted.detect_hot_keys, "salted.detect_hot_keys")),
        (engine, "statistical_analysis", tracer.wrap(engine.statistical_analysis, "stats.statistical_analysis")),
        (backend, "explain", tracer.wrap(backend.explain, "engine.explain")),
        (backend, "__init__", traced_init),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    try:
        for obj, attr, fn in patches:
            setattr(obj, attr, fn)
        yield
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)


def kernel_probe(tracer, pdf, feature_cols, sort_cols):
    """Time explain_prepared on the driver over one partition-sized block,
    ``KERNEL_ITERATIONS`` iterations, as one explain batch runs them."""
    from powershap_spark.kernel import explain_prepared, prepare_block

    blk = prepare_block(
        pdf, feature_cols, "label", row_key_col="__row_key", sort_cols=sort_cols
    )
    fn = tracer.wrap(explain_prepared, "kernel.explain_prepared")
    for i in range(KERNEL_ITERATIONS):
        fn(blk, iteration=i, probe_mode="keyed")


def partition_block(df, key_cols, n_parts):
    """Rows of partition 0 under the engine's part_id assignment, with the
    keyed-probe row key, as pandas."""
    from pyspark.sql import functions as F

    keys = [F.col(c) for c in key_cols]
    return (
        df.withColumn("__row_key", F.xxhash64(*keys))
        .filter(F.pmod(F.xxhash64(*keys), F.lit(n_parts)) == 0)
        .toPandas()
    )


class PitSelect:
    """select_features over a point-in-time transcript/probe table."""

    name = "pit_select"
    uses_synth = True

    def __init__(self, n_parts: int):
        self.n_parts = n_parts

    def generate(self, spark, seed, out_dir):
        self.inputs = write_transcripts(spark, seed, out_dir)
        return self.inputs

    def load(self, spark, inputs):
        t = spark.read.parquet(inputs["transcripts"])
        p = spark.read.parquet(inputs["probes"])
        return {"t": t, "p": p, "turns": t.count(), "probes": p.count()}

    def items(self, tables, res):
        return tables["turns"]

    def _select(self, tables):
        from powershap_spark.pipeline import select_features

        return select_features(
            tables["t"],
            tables["p"],
            power_iterations=10,
            n_parts=self.n_parts,
            probe_mode="keyed",
        )

    def run(self, spark, tables):
        sel, mat = self._select(tables)
        return {"sel": sel, "mat": mat}

    def run_traced(self, tracer, spark, tables):
        with instrument(tracer):
            with tracer.span("pipeline.select_features"):
                sel, mat = self._select(tables)
        return {"sel": sel, "mat": mat}

    def probes(self, tracer, spark, tables, res):
        from powershap_spark.pipeline import (
            FEATURE_COLS,
            point_in_time_matrix,
            turn_features,
        )

        # standalone roots, forced to a noop sink; each resolves the
        # auto-skew policy itself, as select_features does once
        with tracer.span("windows.turn_features"):
            turn_features(tables["t"]).write.format("noop").mode("overwrite").save()
        feats = turn_features(tables["t"]).persist()
        try:
            feats.count()
            with tracer.span("asof.point_in_time_matrix"):
                point_in_time_matrix(feats, tables["p"]).write.format("noop").mode(
                    "overwrite"
                ).save()
        finally:
            feats.unpersist()
        cols = FEATURE_COLS + ["label", "conv_id", "ts"]
        pdf = partition_block(
            res["mat"].select(*cols), ["conv_id", "ts"], self.n_parts
        )
        kernel_probe(tracer, pdf, FEATURE_COLS, ["conv_id", "ts"])

    def check(self, res, ref):
        proc = res["sel"]._processed_shaps_df
        out = {
            "selected": tuple(res["sel"].selected_features_),
            "p_value": tuple(proc["p_value"]),
            "impact": tuple(proc["impact"]),
        }
        problems = []
        # the label is built from the running turn count (synth.probes)
        if "n_prev_turns" not in out["selected"]:
            problems.append(f"n_prev_turns not selected: {out['selected']}")
        if ref is not None and out != ref:
            problems.append("selection differs from the first job of this run")
        return out, problems

    def release(self, res):
        pass

    def final_check(self, res):
        """The last job's matrix row count against DuckDB's ASOF join of the
        same parquet inputs."""
        import duckdb

        n_mat = res["mat"].count()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            n_ref = con.execute(
                "SELECT count(*) FROM read_parquet(?) p ASOF JOIN read_parquet(?) t "
                "ON p.conv_id = t.conv_id AND p.ts >= t.ts",
                [
                    self.inputs["probes"] + "/*.parquet",
                    self.inputs["transcripts"] + "/*.parquet",
                ],
            ).fetchone()[0]
        finally:
            con.close()
        if n_mat != n_ref:
            return [f"matrix rows {n_mat} != DuckDB ASOF rows {n_ref}"]
        return []


def bpe_word(word: str) -> list[str]:
    """Reference BPE: one greedy left-to-right non-overlapping pass per
    rule, in rule order."""
    sym = list(word)
    for a, b in BPE_RULES:
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


class CrawlChain:
    """WARC ingest -> HTML extract -> PII scrub -> exact dedup -> perplexity
    filter -> BPE encode -> vocab ids -> contiguous packing -> epoch shuffle."""

    name = "crawl_chain"
    uses_synth = False

    def __init__(self, n_parts: int):
        self.n_parts = n_parts

    def generate(self, spark, seed, out_dir):
        """Also derives, per page, the whitespace words and the reference
        BPE token count the checks compare against."""
        self.inputs = write_crawl(seed, out_dir)
        cache: dict[str, int] = {}
        n_words, n_tokens = [], []
        for body in self.inputs.pop("bodies"):
            words = body.split()
            n_words.append(len(words))
            for w in words:
                if w not in cache:
                    cache[w] = len(bpe_word(w))
            n_tokens.append(sum(cache[w] for w in words))
        self.inputs["n_words"], self.inputs["n_tokens"] = n_words, n_tokens
        return self.inputs

    def load(self, spark, inputs):
        from powershap_spark.sources.warc import read_warc

        raw = read_warc(spark, inputs["crawl"])
        return {"raw": raw, "records": raw.count()}

    def items(self, tables, res):
        return res["tokens"]

    def _chain(self, tables, span):
        from pyspark.sql import functions as F

        from powershap_spark.operators.dedup import exact_dedup
        from powershap_spark.operators.scrub import extract_html_text, scrub_pii
        from powershap_spark.operators.sharding import (
            deterministic_shuffle_shards,
            pack_contiguous,
        )
        from powershap_spark.operators.text import (
            bpe_encode,
            build_vocab,
            lm_perplexity,
            tokens_to_ids,
        )

        held = []

        def keep(df):
            df = df.persist()
            held.append(df)
            return df

        res = {"held": held}
        with span("chain.ingest_extract_scrub"):
            docs = keep(
                tables["raw"]
                .filter(~F.col("_warc_malformed") & (F.col("warc_type") == "response"))
                .select(
                    F.regexp_extract("target_uri", r"/(\d+)$", 1)
                    .cast("long")
                    .alias("doc_id"),
                    extract_html_text("payload", min_words=3).alias("text"),
                )
                .transform(
                    lambda d: scrub_pii(d)
                    .drop("text")
                    .withColumnRenamed("text_scrubbed", "text")
                )
                .select("doc_id", "text")
            )
            res["pages"] = docs.count()
        with span("dedup.exact_dedup"):
            dd = keep(exact_dedup(docs))
            res["dedup"] = dd.count()
        with span("text.ppl_filter"):
            ppl = keep(lm_perplexity(dd))
            q = ppl.approxQuantile("ppl", [0.95], 0.001)
            thr = q[0] if q else float("inf")
            filt = keep(
                dd.join(
                    ppl.filter((F.col("n_scored") == 0) | (F.col("ppl") <= thr)).select(
                        "doc_id"
                    ),
                    "doc_id",
                    "left_semi",
                )
            )
            res["filtered"] = filt.count()
        with span("text.bpe_encode_vocab_ids"):
            flat = keep(
                bpe_encode(filt, BPE_RULES, method="dict").select("doc_id", "tokens")
            )
            vocab = build_vocab(flat, size=1024, text_col="tokens")
            ids = keep(tokens_to_ids(flat, vocab))
            res["tokens"] = int(
                ids.select(F.sum(F.size("input_ids"))).collect()[0][0] or 0
            )
        with span("sharding.pack_contiguous"):
            packed = keep(pack_contiguous(filt, BLOCK_TOKENS))
            res["spans"] = packed.count()
        with span("sharding.epoch_shuffle"):
            blocks = packed.groupBy("block_id").agg(F.count("*").alias("n_docs"))
            shuf = keep(
                deterministic_shuffle_shards(blocks, "block_id", n_shards=64)
            )
            res["blocks"] = shuf.count()
        res["filt"] = filt
        return res

    def run(self, spark, tables):
        return self._chain(tables, lambda name: contextlib.nullcontext())

    def run_traced(self, tracer, spark, tables):
        with tracer.span("chain.crawl_to_tensors"):
            return self._chain(tables, tracer.span)

    def probes(self, tracer, spark, tables, res):
        pass

    def check(self, res, ref):
        inputs = self.inputs
        out = {k: res[k] for k in ("pages", "dedup", "filtered", "tokens", "blocks")}
        problems = []
        kept = inputs["kept_ids"]
        if out["pages"] != inputs["pages"]:
            problems.append(f"pages {out['pages']} != {inputs['pages']}")
        if out["dedup"] != len(kept):
            problems.append(f"dedup survivors {out['dedup']} != {len(kept)}")
        ids = sorted(r[0] for r in res["filt"].select("doc_id").collect())
        if not set(ids) <= set(kept) or len(ids) < 0.9 * len(kept):
            problems.append(f"perplexity filter kept {len(ids)} of {len(kept)}")
        n_tokens = sum(inputs["n_tokens"][i] for i in ids)
        if out["tokens"] != n_tokens:
            problems.append(f"tokens {out['tokens']} != reference {n_tokens}")
        n_blocks = math.ceil(sum(inputs["n_words"][i] for i in ids) / BLOCK_TOKENS)
        if out["blocks"] != n_blocks:
            problems.append(f"blocks {out['blocks']} != {n_blocks}")
        if ref is not None and out != ref:
            problems.append("counts differ from the first job of this run")
        return out, problems

    def release(self, res):
        for df in res["held"]:
            df.unpersist()

    def final_check(self, res):
        return []


WORKLOADS = {w.name: w for w in (PitSelect, CrawlChain)}
