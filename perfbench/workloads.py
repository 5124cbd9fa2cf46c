"""The four workloads: input generation, the timed job, the traced job,
correctness checks and duplicate recall/precision.

Each workload object is built for one run (seed, directories) and is
driven by ``run.py``. The timed ``job`` calls the engine's public entry point
exactly as a user would; ``traced_job`` reaches the same layers through their
public functions, one span per layer (see spans.py). Checks and quality
scores run after the timed region and read only the written outputs and the
generator's truth.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen

# Confidence tiers the reference assigns (FIXTURES.md section 2).
CONF_TIERS = {0.5, 0.7, 0.88, 0.95, 0.98}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _components(nodes, pairs) -> dict:
    """Union-find: node -> min node id of its component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def best_lower_jaccard(victims, pool, texts: dict) -> dict[int, float]:
    """For each victim, the highest word-bigram Jaccard to a lower-id doc of
    ``pool``, computed exactly: an inverted index over the pool's bigram
    sets turns each victim's overlap counts into one ``bincount``."""
    pool = np.array(sorted(pool), dtype=np.int64)
    vocab: dict[str, int] = {}
    postings: list[list[int]] = []
    size = np.zeros(len(pool), dtype=np.float64)
    for i, d in enumerate(pool.tolist()):
        bs = gen.bigram_set(texts[d])
        size[i] = len(bs)
        for b in bs:
            k = vocab.setdefault(b, len(vocab))
            if k == len(postings):
                postings.append([])
            postings[k].append(i)
    post = [np.array(p, dtype=np.int64) for p in postings]
    out = {}
    for v in victims:
        bs = gen.bigram_set(texts[v])
        hits = [post[vocab[b]] for b in bs if b in vocab]
        lower = int(np.searchsorted(pool, v))  # pool docs with id < v
        out[v] = 0.0
        if hits and lower:
            common = np.bincount(np.concatenate(hits), minlength=len(pool))[:lower]
            out[v] = float((common / (size[:lower] + len(bs) - common)).max())
    return out


class Workload:
    """One run's workload. Subclasses set ``name`` and ``_gen`` (the
    generator) and define ``job(spark)``, the timed job; ``traced_job(spark,
    tracer)``, the same work through spans; ``check()``, the list of output
    errors; and ``quality()``, (recall, precision), which may read what
    ``check`` computed."""

    name = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.inp = _fresh(os.path.join(work, "input"))
        self.out = os.path.join(work, "out")

    def generate(self) -> dict:
        """Write the input; return its properties."""
        self.props, self.truth = self._gen(self.inp, self.seed)
        return self.props

    def rows(self) -> int:
        return self.props["rows"]

    def reset(self, spark) -> None:
        """Untimed preparation before each timed job."""
        spark.catalog.clearCache()
        _fresh(self.out)

    def set_up(self, spark) -> None:
        """Workload set-up work beyond the session and its warm-up."""

    def after_job(self) -> None:
        """Untimed collection of what the check needs from a finished job."""


@contextlib.contextmanager
def _quiet():
    """The CLIs print progress to stdout; keep stdout for the result."""
    with contextlib.redirect_stdout(sys.stderr):
        yield


# ---------------------------------------------------------------------------
# company_names
# ---------------------------------------------------------------------------


class CompanyNames(Workload):
    name = "company_names"
    _gen = staticmethod(gen.gen_company_names)
    SHEET_COLS = ["row_order", "original_name", "normalized_name", "base_name",
                  "cluster_id", "cluster_size", "canonical_name", "confidence",
                  "reason"]

    def job(self, spark) -> None:
        from datafusion_dedup_ai_spark.__main__ import main

        argv = [self.truth["csv"], "--column", "company_name",
                "--order-column", "row_id", "--out", self.out]
        with _quiet():
            rc = main(argv, spark)
        if rc != 0:
            raise RuntimeError(f"dedup CLI returned {rc}")

    def traced_job(self, spark, tr) -> None:
        """The dedup CLI body, one public function per span."""
        from pyspark.sql import functions as F

        from datafusion_dedup_ai_spark.config import DedupConfig
        from datafusion_dedup_ai_spark.operators.blocking import prepare_names
        from datafusion_dedup_ai_spark.operators.canonical import elect_canonical
        from datafusion_dedup_ai_spark.operators.clustering import cluster_exact
        from datafusion_dedup_ai_spark.operators.matching import group_pair_matches
        from datafusion_dedup_ai_spark.plans.pipeline import (
            CLUSTER_COLUMNS, canonical_summary, golden_mapping,
            high_confidence_review, run_stats,
        )
        from datafusion_dedup_ai_spark.sources.readers import read_input
        from datafusion_dedup_ai_spark.sources.sinks import (
            settings_sheet, write_xlsx_bytes,
        )

        config = DedupConfig()
        with tr.span("sources.read"):
            df = tr.materialize(read_input(spark, self.truth["csv"]))
        with tr.span("blocking.prepare"):
            prepared = tr.materialize(
                prepare_names(df, "company_name", config, order_col="row_id"))
        with tr.span("matching.match"):
            matches = tr.materialize(group_pair_matches(prepared, config))
        with tr.span("clustering.cluster_exact"):
            clustered = tr.materialize(cluster_exact(
                prepared, matches, link_identical=True,
                max_block_rows=config.mega_block_rows,
                cc_backend=config.cc_backend))
        with tr.span("canonical.elect"):
            final = tr.materialize(
                elect_canonical(clustered).select(*CLUSTER_COLUMNS))
        with tr.span("sinks.xlsx"):
            write_xlsx_bytes(
                {"clusters": final.select(*self.SHEET_COLS),
                 "canonical_summary": canonical_summary(final),
                 "settings": settings_sheet(config, spark)},
                self.out, "company_duplicates_final.xlsx")
            write_xlsx_bytes({"mapping": golden_mapping(final)}, self.out,
                             "golden_mapping.xlsx")
            write_xlsx_bytes(
                {"review": high_confidence_review(final).select(*self.SHEET_COLS)},
                self.out, "high_confidence_review.xlsx")
            run_stats(final).collect()

        # Counts, outside every timed span.
        nonempty = prepared.where(F.col("base_name") != "")
        blocks = nonempty.groupBy("block_key").count()
        g = nonempty.select("block_key", "base_name").distinct()
        cand = (g.alias("a").join(g.alias("b"), "block_key")
                .where(F.col("a.base_name") < F.col("b.base_name")).count())
        n_match = matches.count()
        sizes = final.groupBy("cluster_id").count()
        tr.counts.update({
            "blocking.blocks": blocks.count(),
            "blocking.max_block_rows": blocks.agg(F.max("count")).first()[0] or 0,
            "blocking.candidate_pairs": cand,
            "matching.matches": n_match,
            "matching.pass_rate": n_match / cand if cand else 0.0,
            "clustering.groups": prepared.select("block_key").distinct().count(),
            "clustering.max_cluster_size": sizes.agg(F.max("count")).first()[0],
            "sinks.bytes_out": _dir_bytes(self.out),
        })

    def _clusters(self) -> list[dict]:
        from datafusion_dedup_ai_spark.sources.xlsx_lite import read_xlsx

        rows = read_xlsx(os.path.join(self.out, "company_duplicates_final.xlsx"))["clusters"]
        header = rows[0]
        return [dict(zip(header, r)) for r in rows[1:]]

    def check(self) -> list[str]:
        """Invariants plus the DuckDB replay of the cluster partition."""
        import duckdb

        from datafusion_dedup_ai_spark import oracles as O
        from datafusion_dedup_ai_spark.sources.xlsx_lite import read_xlsx

        errs = []
        rows = self._clusters()
        ids = [int(r["row_order"]) for r in rows]
        if sorted(ids) != sorted(self.truth["entity"]):
            errs.append("company_names: output rows are not the input rows, once each")
        members: dict = {}
        for r in rows:
            members.setdefault(r["cluster_id"], []).append(r)
        for cid, ms in members.items():
            if any(int(m["cluster_size"]) != len(ms) for m in ms):
                errs.append(f"company_names: cluster {cid} size != member count")
                break
            if len({m["canonical_name"] for m in ms}) != 1:
                errs.append(f"company_names: cluster {cid} has several canonical names")
                break
        if any(float(r["confidence"]) not in CONF_TIERS for r in rows):
            errs.append("company_names: confidence outside the tier values")
        n_map = len(read_xlsx(os.path.join(self.out, "golden_mapping.xlsx"))["mapping"]) - 1
        if n_map != len(rows):
            errs.append("company_names: golden mapping row count != clusters")

        # DuckDB derives the block keys and Jaro-Winkler links from the
        # output's base names, and checks those base names against
        # oracles.sql_base_name on a quarter of the rows (all rows take
        # DuckDB 4.6 s: the suffix-strip fixpoint is a long regex chain).
        # The components of the links are taken here: the recursive-CTE
        # closure in oracles.sql_connected_components took 140 s on this
        # input (quadratic in component size).
        import pyarrow as pa

        con = duckdb.connect()
        con.register("based", pa.table({
            "row_order": [int(r["row_order"]) for r in rows],
            "base_name": [r["base_name"] or "" for r in rows]}))
        csv_path = self.truth["csv"]
        bad_base = con.execute(f"""
            SELECT count(*) FROM (
                SELECT row_id,
                       COALESCE({O.sql_base_name('company_name')}, '') AS want
                FROM read_csv('{csv_path}', header=true,
                              columns={{'row_id': 'BIGINT', 'company_name': 'VARCHAR'}})
                WHERE row_id % 4 = 0
            ) o LEFT JOIN based b ON b.row_order = o.row_id
            WHERE b.base_name IS DISTINCT FROM o.want
        """).fetchone()[0]
        links = con.execute(f"""
            WITH prep AS (
                SELECT row_order, base_name,
                       {O.sql_block_key('base_name')} AS block_key,
                       {O.sql_token_sort_key('base_name')} AS token_key
                FROM based WHERE base_name <> ''
            )
            SELECT a.row_order, b.row_order
            FROM prep a JOIN prep b USING (block_key)
            WHERE a.row_order < b.row_order
              AND ((a.token_key = b.token_key
                    AND jaro_winkler_similarity(a.base_name, b.base_name) >= 0.85)
                   OR jaro_winkler_similarity(a.base_name, b.base_name) >= 0.90)
        """).fetchall()
        want = _components(ids, links)
        # Partition compare: label each output row by its cluster's min row.
        got_min = {cid: min(int(m["row_order"]) for m in ms) for cid, ms in members.items()}
        bad_part = sum(1 for r in rows
                       if want.get(int(r["row_order"])) != got_min[r["cluster_id"]])
        if bad_part:
            errs.append(f"company_names: {bad_part} rows disagree with the DuckDB partition")
        if bad_base:
            errs.append(f"company_names: {bad_base} sampled base names disagree with DuckDB")
        return errs

    def quality(self) -> tuple[float, float]:
        """Per-row (B-cubed) recall and precision over rows with planted
        duplicates and rows in merged clusters. Pair counts would weigh a
        cluster by its size squared, so one false merge in a hot block would
        swing precision by tens of percent between seeds."""
        cluster = {int(r["row_order"]): r["cluster_id"] for r in self._clusters()}
        entity = self.truth["entity"]
        by_c: dict = {}
        by_e: dict = {}
        for r, c in cluster.items():
            by_c.setdefault(c, set()).add(r)
            by_e.setdefault(entity[r], set()).add(r)
        rec = [len(by_c[cluster[r]] & m) / len(m)
               for m in by_e.values() if len(m) > 1 for r in m]
        prec = [len(by_e[entity[r]] & m) / len(m)
                for m in by_c.values() if len(m) > 1 for r in m]
        return (sum(rec) / max(len(rec), 1), sum(prec) / max(len(prec), 1))


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------


class CorpusCurate(Workload):
    name = "corpus_curate"
    _gen = staticmethod(gen.gen_corpus)
    THRESHOLD = 0.2
    # The two-phase verify accepts on the signature estimate when it is at
    # least threshold + 0.15, so a kept pair may sit up to 0.15 below the
    # threshold in exact Jaccard (operators/dedup.py, eps).
    EPS = 0.15

    def job(self, spark) -> None:
        from datafusion_dedup_ai_spark.__main__ import curate_main

        argv = [self.truth["path"], "--out", self.out, "--near-dup-tier", "minhash"]
        with _quiet():
            rc = curate_main(argv, spark)
        if rc != 0:
            raise RuntimeError(f"curate CLI returned {rc}")

    def traced_job(self, spark, tr) -> None:
        """curate_main's body with spans; text scoring and the MinHash
        stages are reachable only inside clean_corpus_frame, so they are
        probes: separate calls on the same input after the timeline."""
        import json

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from datafusion_dedup_ai_spark.functions import text as T
        from datafusion_dedup_ai_spark.operators import dedup as D
        from datafusion_dedup_ai_spark.queries_curation import training_manifest_frame
        from datafusion_dedup_ai_spark.queries_text import (
            KEEP_LANG, QUALITY_FLOOR, clean_corpus_frame,
        )

        with tr.span("sources.read"):
            docs = tr.materialize(spark.read.parquet(self.truth["path"]))
        with tr.span("curation.clean_corpus"):
            kept = tr.materialize(clean_corpus_frame(docs, near_dup_tier="minhash"))
        with tr.span("curation.manifest"):
            # training_manifest_frame re-derives clean_corpus_frame; the
            # cached frame above makes that a cache read.
            manifest = tr.materialize(
                training_manifest_frame(docs, near_dup_tier="minhash"))
        with tr.span("sinks.parquet"):
            manifest.write.mode("overwrite").parquet(
                os.path.join(self.out, "manifest.parquet"))
            written = spark.read.parquet(os.path.join(self.out, "manifest.parquet"))
            stats = written.groupBy("split").agg(F.count("*").alias("n")).collect()
            with open(os.path.join(self.out, "stats.json"), "w") as f:
                json.dump({r["split"]: r["n"] for r in stats}, f)

        # Probes: the inner public functions, each on the same input.
        with tr.span("text.score", kind="probe"):
            scored = tr.materialize(docs.select(
                "doc_id", "text", T.tokens(F.col("text")).alias("_toks")
            ).select(
                "doc_id", "text",
                T.quality_score_from_tokens(F.col("_toks")).alias("quality"),
                T.lang_id_from_tokens(F.col("_toks")).alias("pred_lang"),
            ))
        text_kept = scored.where(
            (F.col("quality") >= QUALITY_FLOOR) & (F.col("pred_lang") == KEEP_LANG))
        w = Window.partitionBy(F.md5("text"))
        exact_kept = (text_kept.withColumn("rep", F.min("doc_id").over(w))
                      .where(F.col("doc_id") == F.col("rep")))
        sh = tr.materialize(exact_kept.select(
            "doc_id", T.distinct_shingles(F.col("text")).alias("shingles")))
        with tr.span("dedup.signatures", kind="probe"):
            sigs = tr.materialize(D.minhash_signatures(sh))
        with tr.span("dedup.candidates", kind="probe"):
            cands = tr.materialize(D.lsh_candidate_pairs(sigs))
        with tr.span("dedup.two_phase", kind="probe"):
            pairs = tr.materialize(
                D.minhash_near_dup_pairs_two_phase(sh, threshold=self.THRESHOLD))

        n_text = text_kept.count()
        n_exact = sh.count()
        n_cand = cands.count()
        n_pairs = pairs.count()
        bkt = (D.band_buckets(sigs).groupBy("band", "bucket").count()
               .agg(F.max("count")).first()[0])
        tr.counts.update({
            "text.rows_kept": n_text,
            "dedup.exact_dropped": n_text - n_exact,
            "dedup.candidate_pairs": n_cand,
            "dedup.max_bucket_rows": bkt or 0,
            "dedup.verified_pairs": n_pairs,
            "dedup.verify_pass_rate": n_pairs / n_cand if n_cand else 0.0,
            "dedup.victims": n_exact - kept.count(),
        })

    def _kept(self) -> set[int]:
        t = pq.read_table(os.path.join(self.out, "manifest.parquet"), columns=["doc_id"])
        return set(t.column("doc_id").to_pylist())

    def _filter_oracle(self) -> tuple[set[int], set[int]]:
        """DuckDB: the registered clean_corpus oracle up to its exact-dedup
        stage (quality and language filter, min-id exact dedup), on a
        1/32 sample of the docs closed under equal text (so min-id exact
        dedup sees whole groups). The full corpus takes DuckDB about 45 s.
        Returns (sampled ids, ids the oracle keeps)."""
        import duckdb

        from datafusion_dedup_ai_spark import queries_text  # noqa: F401  (registers it)
        from datafusion_dedup_ai_spark.registry import get_oracle

        sql = get_oracle("clean_corpus")
        cut = sql.index("), toks AS (")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW docs AS SELECT * FROM '{self.truth['path']}'")
        con.execute("""
            CREATE TABLE documents AS SELECT * FROM docs WHERE md5(text) IN (
                SELECT md5(text) FROM docs WHERE hash(doc_id) % 32 = 0)""")
        sample = {r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()}
        keep = con.execute(sql[:cut] + ") SELECT doc_id FROM exact_kept").fetchall()
        return sample, {r[0] for r in keep}

    def _drops(self, kept: set[int]) -> tuple[list[int], set[int]]:
        """Docs the dedup stages dropped (neither kept nor planted as
        filter rejects or exact copies), and the docs the filter passes."""
        passed = set(self.truth["texts"]) - self.truth["rejects"]
        exact = {p["id"] for p in self.truth["planted"] if p["kind"] == "exact"}
        return sorted(passed - exact - kept), passed

    def check(self) -> list[str]:
        errs = []
        kept = self._kept()
        sample, want = self._filter_oracle()
        if (kept & sample) - want:
            errs.append(f"corpus_curate: {len((kept & sample) - want)} kept docs fail the "
                        "DuckDB quality/language/exact-dedup filter")
        if kept & self.truth["rejects"]:
            errs.append("corpus_curate: a German or low-quality doc was kept")
        exact_copies = {p["id"] for p in self.truth["planted"] if p["kind"] == "exact"}
        if kept & exact_copies:
            errs.append(f"corpus_curate: {len(kept & exact_copies)} planted exact duplicates kept")
        dropped, passed = self._drops(kept)
        self.best = best_lower_jaccard(dropped, passed, self.truth["texts"])
        lonely = [v for v, j in self.best.items() if j < self.THRESHOLD - self.EPS]
        if lonely:
            errs.append(f"corpus_curate: {len(lonely)} dropped docs have no "
                        "lower-id near duplicate")
        return errs

    def quality(self) -> tuple[float, float]:
        kept = self._kept()
        positives = [p for p in self.truth["planted"] if p["j"] >= self.THRESHOLD]
        caught = sum(1 for p in positives if not (p["id"] in kept and p["src"] in kept))
        # A drop is right when a lower-id doc that passes the text filter is
        # a duplicate at the threshold (best Jaccards come from the check).
        right = sum(1 for j in self.best.values() if j >= self.THRESHOLD)
        return caught / max(len(positives), 1), right / max(len(self.best), 1)


# ---------------------------------------------------------------------------
# embedding_dedup
# ---------------------------------------------------------------------------


class EmbeddingDedup(Workload):
    name = "embedding_dedup"
    _gen = staticmethod(gen.gen_embeddings)
    THRESHOLD = 0.35

    def generate(self) -> dict:
        props = super().generate()
        v = self.truth["vecs"].astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        ids = self.truth["ids"]
        want = set()
        for s in range(0, len(v), 1024):
            c = v[s:s + 1024] @ v.T
            ii, jj = np.nonzero(c >= self.THRESHOLD)
            for i, j in zip(ii + s, jj):
                if i < j:
                    want.add((int(ids[i]), int(ids[j])))
        self.truth["pairs"] = want
        self._cos = (v, {int(x): k for k, x in enumerate(ids)})
        props["true_pairs"] = len(want)
        return props

    def _pipeline(self, spark, path: str, out: str, tr=None):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from datafusion_dedup_ai_spark.operators.clustering import cluster_components_auto
        from datafusion_dedup_ai_spark.queries_similarity import composite_near_pairs

        span = tr.span if tr else (lambda name: contextlib.nullcontext())
        mat = tr.materialize if tr else (lambda df: df)
        with span("sources.read"):
            emb = mat(spark.read.parquet(path))
        with span("similarity.near_pairs"):
            # Persisted so the pair list can be checked after the job.
            pairs = composite_near_pairs(emb).persist()
            if tr:
                pairs.count()
        with span("clustering.components"):
            edges = pairs.select(F.col("id_a").alias("row_order_a"),
                                 F.col("id_b").alias("row_order_b"))
            labels = mat(cluster_components_auto(edges).select(
                F.col("row_order").alias("vec_id"), "cluster_id"))
        with span("sinks.parquet"):
            full = emb.select("vec_id").join(labels, "vec_id", "left").select(
                "vec_id", F.coalesce("cluster_id", F.col("vec_id")).alias("cluster_id"))
            full.select(
                "vec_id", "cluster_id",
                F.count("*").over(Window.partitionBy("cluster_id")).alias("cluster_size"),
            ).write.mode("overwrite").parquet(os.path.join(out, "clusters.parquet"))
        return emb, pairs, labels

    def job(self, spark) -> None:
        _e, self._pairs, _l = self._pipeline(spark, self.truth["path"], self.out)

    def after_job(self) -> None:
        rows = self._pairs.collect()
        self.found = {(int(r["id_a"]), int(r["id_b"])) for r in rows}
        self._pairs.unpersist()

    def traced_job(self, spark, tr) -> None:
        from pyspark.sql import functions as F

        from datafusion_dedup_ai_spark.operators import similarity_search as S

        emb, pairs, labels = self._pipeline(spark, self.truth["path"], self.out, tr)
        self._pairs = pairs
        n = emb.count()
        b = S.lsh_bucketize(emb, "vec_id", "embedding", 16, S.lsh_bits_schedule(n), 64, 7)
        cand = (b.alias("a").join(b.alias("b"), ["table", "bucket"])
                .where(F.col("a.vec_id") < F.col("b.vec_id"))
                .select("a.vec_id", "b.vec_id").distinct().count())
        n_pairs = pairs.count()
        comp = labels.groupBy("cluster_id").count()
        tr.counts.update({
            "similarity.candidate_pairs": cand,
            "similarity.max_bucket_rows":
                b.groupBy("table", "bucket").count().agg(F.max("count")).first()[0],
            "similarity.pairs": n_pairs,
            "similarity.verify_pass_rate": n_pairs / cand if cand else 0.0,
            "clustering.edges": n_pairs,
            "clustering.max_component": comp.agg(F.max("count")).first()[0] or 1,
        })

    def check(self) -> list[str]:
        errs = []
        t = pq.read_table(os.path.join(self.out, "clusters.parquet")).to_pydict()
        ids = t["vec_id"]
        if sorted(ids) != sorted(int(x) for x in self.truth["ids"]):
            errs.append("embedding_dedup: output rows are not the input vectors, once each")
        label = dict(zip(ids, t["cluster_id"]))
        size = {}
        for c in t["cluster_id"]:
            size[c] = size.get(c, 0) + 1
        if any(size[c] != s for c, s in zip(t["cluster_id"], t["cluster_size"])):
            errs.append("embedding_dedup: cluster_size != member count")
        if _components(ids, self.found) != label:
            errs.append("embedding_dedup: clusters are not the components of the pairs")
        v, pos = self._cos
        bad = sum(1 for a, b in self.found
                  if float(v[pos[a]] @ v[pos[b]]) < self.THRESHOLD - 1e-9)
        if bad:
            errs.append(f"embedding_dedup: {bad} emitted pairs below the cosine threshold")
        return errs

    def quality(self) -> tuple[float, float]:
        want = self.truth["pairs"]
        hit = len(self.found & want)
        return hit / max(len(want), 1), hit / max(len(self.found), 1)


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class StreamIngest(Workload):
    name = "stream_ingest"
    _gen = staticmethod(gen.gen_stream)
    THRESHOLD = 0.5
    COMPACT_MAX_FILES = 6

    def _dirs(self) -> dict:
        root = os.path.join(self.work, "stream")
        return {k: os.path.join(root, k) for k in ("corpus", "index", "ckpt", "drop")}

    def _shingled(self, df):
        from pyspark.sql import functions as F

        from datafusion_dedup_ai_spark.functions import text as T

        return df.select("doc_id", T.distinct_shingles(F.col("text")).alias("shingles"))

    def _build(self, spark) -> None:
        """Fresh corpus (the base docs) and its MinHash index."""
        from datafusion_dedup_ai_spark.operators import minhash_index as MI

        d = self._dirs()
        for k in d.values():
            _fresh(k)
        shutil.copy(self.truth["base"], os.path.join(d["corpus"], "part-base.parquet"))
        MI.build_minhash_index(
            self._shingled(spark.read.parquet(self.truth["base"])), d["index"])

    def set_up(self, spark) -> None:
        self._build(spark)

    def reset(self, spark) -> None:
        spark.catalog.clearCache()
        if getattr(self, "_used", False):
            self._build(spark)
        self._used = True

    def _loop(self, spark, on_batch=None) -> list[float]:
        """Closed loop: drop the next batch file only after the previous
        micro-batch committed; returns drop-to-commit latencies."""
        from datafusion_dedup_ai_spark.streaming.ingest import start_near_dup_ingest

        d = self._dirs()
        stream = (spark.readStream.schema("doc_id BIGINT, text STRING")
                  .option("maxFilesPerTrigger", 1).parquet(d["drop"]))
        q = start_near_dup_ingest(
            stream, d["corpus"], d["index"], d["ckpt"], threshold=self.THRESHOLD,
            available_now=False, compact_max_files=self.COMPACT_MAX_FILES)
        lat = []
        try:
            for i, path in enumerate(self.truth["batches"]):
                tmp = os.path.join(d["drop"], f".tmp-{i}.parquet")
                shutil.copy(path, tmp)
                t0 = time.perf_counter()
                os.rename(tmp, os.path.join(d["drop"], f"b{i:05d}.parquet"))
                q.processAllAvailable()
                lat.append(time.perf_counter() - t0)
                if on_batch:
                    on_batch(d)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            self.progress = [p for p in q.recentProgress if p.get("numInputRows")]
        finally:
            q.stop()
        return lat

    def job(self, spark) -> None:
        self.latencies = self._loop(spark)

    def traced_job(self, spark, tr) -> None:
        from datafusion_dedup_ai_spark.operators import minhash_index as MI
        from datafusion_dedup_ai_spark.sources.layout import parquet_files

        files = []
        with tr.span("index.build"):
            self._build(spark)
        with tr.span("ingest.batch"):
            self.latencies = self._loop(
                spark,
                on_batch=lambda d: files.append(len(parquet_files(os.path.join(d["index"], "data")))))
        d = self._dirs()
        # Probes: the index functions the sink calls, on the final state.
        last = spark.read.parquet(self.truth["batches"][-1])
        with tr.span("index.read", kind="probe"):
            tr.materialize(MI.read_minhash_index(spark, d["index"]))
        with tr.span("index.match", kind="probe"):
            tr.materialize(MI.incremental_near_dup_matches_indexed(
                spark, d["index"], self._shingled(last), threshold=self.THRESHOLD))
        probe_idx = os.path.join(self.work, "probe_index")
        shutil.rmtree(probe_idx, ignore_errors=True)
        shutil.copytree(d["index"], probe_idx)
        with tr.span("index.compact", kind="probe"):
            MI.compact_minhash_index(spark, probe_idx)
        in_bytes = sum(os.path.getsize(p) for p in [self.truth["base"]] + self.truth["batches"])
        kept = spark.read.parquet(d["corpus"]).count() - self.props["base_rows"]
        tr.counts.update({
            "index.files": len(parquet_files(os.path.join(d["index"], "data"))),
            "index.compactions": sum(1 for a, b in zip(files, files[1:]) if b < a),
            "index.bytes_per_input_byte": _dir_bytes(os.path.join(d["index"], "data")) / in_bytes,
            "corpus.bytes_per_input_byte": _dir_bytes(d["corpus"]) / in_bytes,
            "ingest.kept_frac": kept / self.props["rows"],
        })

    def _kept(self) -> list[int]:
        d = self._dirs()
        return pq.read_table(d["corpus"], columns=["doc_id"]).column("doc_id").to_pylist()

    def check(self) -> list[str]:
        errs = []
        kept = self._kept()
        texts = self.truth["texts"]
        base = set(range(1, self.props["base_rows"] + 1))
        if len(kept) != len(set(kept)):
            errs.append("stream_ingest: a doc was appended to the corpus twice")
        ks = set(kept)
        if not base <= ks or not ks <= set(texts):
            errs.append("stream_ingest: corpus lost a base doc or holds a foreign id")
        d = self._dirs()
        idx = set(pq.read_table(os.path.join(d["index"], "data"), columns=["doc_id"])
                  .column("doc_id").to_pylist())
        if idx != ks:
            errs.append("stream_ingest: index ids differ from corpus ids")
        exact = {p["id"] for p in self.truth["planted"] if p["kind"] == "exact"}
        if ks & exact:
            errs.append(f"stream_ingest: {len(ks & exact)} planted exact duplicates kept")
        dropped = sorted(set(texts) - ks)
        self.best = best_lower_jaccard(dropped, ks, texts)
        lonely = [v for v, j in self.best.items() if j < self.THRESHOLD]
        if lonely:
            errs.append(f"stream_ingest: {len(lonely)} dropped docs have no kept "
                        "near duplicate")
        return errs

    def quality(self) -> tuple[float, float]:
        ks = set(self._kept())
        positives = [p for p in self.truth["planted"] if p["j"] >= self.THRESHOLD]
        caught = sum(1 for p in positives if p["id"] not in ks)
        right = sum(1 for j in self.best.values() if j >= self.THRESHOLD)
        return caught / max(len(positives), 1), right / max(len(self.best), 1)


WORKLOADS = {w.name: w for w in (CompanyNames, CorpusCurate, EmbeddingDedup, StreamIngest)}
