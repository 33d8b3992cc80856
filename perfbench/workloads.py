"""The perfbench workloads.

Each workload generates its inputs from the seed (``generate``), builds
the durable state its requests read (``build``, repeated to time set-up),
and runs one pass of a fixed request sequence (``run_pass``) from a
single client in a closed loop: every request waits for the previous
one.  ``run_pass`` returns the pass's timings and the number of output
checks that failed; ``probe`` runs the calls the traced run forces on
their own, outside the timed pass.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import gen

K = 10  # top-k of every search request
EXACT_TIE_TOL = 1e-9


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Workload:
    name = ""

    def __init__(self, spark, root: str, seed: int, tracer) -> None:
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tr = tracer
        self.rng = np.random.default_rng(seed)
        self.h = gen.InputHash()
        self.planted: dict[str, int] = {}
        os.makedirs(root, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p


# --------------------------------------------------------------------------
class Search(Workload):
    """Read-only serving: batch-50 exact, IVF and IVFPQ top-10 plus
    single-query filtered three-stage searches, over a table and two
    indexes built in set-up."""

    name = "search"
    POSTS, CHUNKS, DIM, CENTERS = 1500, 4, 64, 32
    N_CLUSTERS, PQ_M, N_PROBE = 16, 8, 4
    BATCH, SINGLES, LANGS = 50, 12, 10
    # recall@10 an index must reach against the exact top-10: about 0.12
    # below the lowest of 46 seeds (IVF 0.818, IVFPQ 0.426; means about
    # 0.91 and 0.47), far above what an index returning wrong neighbours
    # reaches
    IVF_RECALL_FLOOR, IVFPQ_RECALL_FLOOR = 0.70, 0.30

    def generate(self) -> None:
        n = self.POSTS * self.CHUNKS
        self.v = gen.clustered_vectors(self.rng, n, self.DIM, self.CENTERS)
        ids = np.arange(1, n + 1)
        post = (ids - 1) // self.CHUNKS + 1
        gen.write_vector_rows(self.path("raw_vectors.parquet"), post, (ids - 1) % self.CHUNKS,
                              self.v, ids, self.h)
        langs = [f"l{int(x)}" for x in self.rng.integers(0, self.LANGS, self.POSTS)]
        posts = np.arange(1, self.POSTS + 1)
        gen.write_documents(self.path("documents.parquet"), posts, langs, self.rng, self.h)
        self.filter_posts = {int(p) for p, lang in zip(posts, langs) if lang == "l0"}
        self.planted["filter_posts"] = len(self.filter_posts)
        self.selectivity = len(self.filter_posts) / self.POSTS
        pick = self.rng.integers(0, n, self.BATCH + self.SINGLES)
        q = (self.v[pick] + 0.3 * self.rng.standard_normal((len(pick), self.DIM))).astype(np.float32)
        self.batch_q, self.single_q = q[: self.BATCH], q[self.BATCH:]
        gen.write_queries(self.path("queries.parquet"), self.batch_q, self.h)
        self.h.add(self.single_q.tobytes())
        # exact cosine top-k in float64 over the float32 inputs, ties by id
        v64 = self.v.astype(np.float64)
        q64 = self.batch_q.astype(np.float64)
        sims = (q64 @ v64.T) / np.outer(np.linalg.norm(q64, axis=1), np.linalg.norm(v64, axis=1))
        self.exact_sims = sims
        self.exact = []
        for row in sims:
            order = np.lexsort((ids, -row))[:K]
            self.exact.append([int(ids[i]) for i in order])

    def build(self) -> None:
        from wpvectordb_spark.operators import similarity as SIM
        from wpvectordb_spark.operators import table_ops as TO
        from wpvectordb_spark.table import VectorTable

        spark, tr = self.spark, self.tr
        raw = spark.read.parquet(self.path("raw_vectors.parquet"))
        with tr.span("table_ops.derive"):
            TO.derive(raw).write.mode("overwrite").parquet(self.fresh("table"))
        self.table = VectorTable(spark, self.path("table"), vector_length=self.DIM)
        df = self.table.df()
        with tr.span("similarity.build_ivf_index"):
            SIM.build_ivf_index(df, self.fresh("ivf"), n_clusters=self.N_CLUSTERS,
                                id_col="id", vector_col="vector")
        with tr.span("similarity.build_ivfpq_index"):
            SIM.build_ivfpq_index(df, self.fresh("ivfpq"), dim=self.DIM,
                                  n_clusters=self.N_CLUSTERS, m=self.PQ_M,
                                  id_col="id", vector_col="vector")
        self.stored_bytes = sum(du(self.path(d)) for d in ("table", "ivf", "ivfpq"))

    def prepare(self) -> None:
        from wpvectordb_spark.plans.query_builder import Filter, QueryBuilder

        spark = self.spark
        self.docs = spark.read.parquet(self.path("documents.parquet"))
        self.doc_meta = self.docs.selectExpr(
            "post_id",
            "stack(3, 'lang', lang, 'source', source, 'n_chars', cast(n_chars as string))"
            " as (meta_key, meta_value)",
        )
        self.doc_meta.write.mode("overwrite").parquet(self.fresh("doc_meta"))
        self.doc_meta = spark.read.parquet(self.path("doc_meta"))
        self.qb = QueryBuilder()
        self.qb.add_filter("lang", Filter("lang", "=", "l0", is_meta=True))
        self.qdf = spark.read.parquet(self.path("queries.parquet"))

    def _check_exact(self, rows) -> int:
        n = self.POSTS * self.CHUNKS
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append(int(r["id"]))
        bad = 0
        for qi, want in enumerate(self.exact):
            ids = got.get(qi, [])
            if len(ids) != K or len(set(ids)) != K or any(not 1 <= i <= n for i in ids):
                bad += 1
                continue
            if set(ids) == set(want):
                continue
            # a mismatch is only tolerated at an exact-score tie with the k-th
            kth = self.exact_sims[qi][want[-1] - 1]
            diff = set(ids) ^ set(want)
            if any(abs(self.exact_sims[qi][i - 1] - kth) > EXACT_TIE_TOL for i in diff):
                bad += 1
        return bad

    def _recall(self, rows) -> float:
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), set()).add(int(r["id"]))
        return float(np.mean([len(got.get(qi, set()) & set(w)) / K for qi, w in enumerate(self.exact)]))

    def run_pass(self, warm: bool = False) -> dict:
        """One pass: each batch request followed by a third of the single
        queries, so the latency samples span the whole pass.  The warm-up
        pass (``warm``) sends every request kind once and checks nothing."""
        from wpvectordb_spark.operators import search as S
        from wpvectordb_spark.operators import similarity as SIM

        spark, tr = self.spark, self.tr
        out = {"batch_s": 0.0, "latencies": [], "checks": 0, "failed": 0, "attempted": 0}
        singles = self.single_q[:1] if warm else self.single_q
        per = -(-len(singles) // 3)
        t_pass = time.perf_counter()
        batch_rows, single_rows = {}, []
        for j, (key, call) in enumerate((
            ("search.search_many", lambda: S.search_many(
                self.table.df(), self.qdf, n=K, two_phase=False, expected_dim=self.DIM)),
            ("similarity.ivf_topk_many", lambda: SIM.ivf_topk_many(
                spark, self.qdf, path=self.path("ivf"), k=K, n_probe=self.N_PROBE,
                id_col="id", vector_col="vector", expected_dim=self.DIM)),
            ("similarity.ivfpq_topk_many", lambda: SIM.ivfpq_topk_many(
                spark, self.path("ivfpq"), self.qdf, dim=self.DIM, m=self.PQ_M, k=K,
                n_probe=self.N_PROBE, id_col="id", vector_col="vector")),
        )):
            tr.next_request()
            t = time.perf_counter()
            with tr.span(key):
                batch_rows[key] = call().collect()
            out["batch_s"] += time.perf_counter() - t
            out["attempted"] += 1
            for q in singles[j * per:(j + 1) * per]:
                tr.next_request()
                t = time.perf_counter()
                with tr.span("table.search"):
                    rows = self.table.search([float(x) for x in q], n=K, builder=self.qb,
                                             documents=self.docs, doc_meta=self.doc_meta).collect()
                out["latencies"].append(time.perf_counter() - t)
                out["attempted"] += 1
                single_rows.append(rows)
        out["wall_s"] = time.perf_counter() - t_pass
        out["units"] = 3 * self.BATCH
        if warm:
            return out
        # output checks (outside the timed pass)
        out["recall_ivf"] = self._recall(batch_rows["similarity.ivf_topk_many"])
        out["recall_ivfpq"] = self._recall(batch_rows["similarity.ivfpq_topk_many"])
        failed = self._check_exact(batch_rows["search.search_many"])
        for key, floor in (("ivf", self.IVF_RECALL_FLOOR), ("ivfpq", self.IVFPQ_RECALL_FLOOR)):
            rows = batch_rows[f"similarity.{key}_topk_many"]
            failed += len(rows) != K * self.BATCH or out[f"recall_{key}"] < floor
        for rows in single_rows:
            if len(rows) != K or any(int(r["post_id"]) not in self.filter_posts for r in rows):
                failed += 1
        out["checks"] = self.BATCH + 2 + len(single_rows)
        out["failed"] = int(failed)
        out["stored_bytes"] = self.stored_bytes
        return out

    def probe(self) -> dict[str, float]:
        with self.tr.span("query_builder.candidates"):
            cand = self.qb.candidates(self.docs, self.doc_meta, id_col="post_id")
            cand.write.format("noop").mode("overwrite").save()
        return {"query_builder.candidates.selectivity": self.selectivity}


# --------------------------------------------------------------------------
class Ingest(Workload):
    """Everything that commits durable state: the reference's queue-worker
    loop with a read-your-write search after each commit, an IVF append of
    the committed rows, stream near-dedup ingest driven one micro-batch at
    a time, and a raw JSONL drop through the loader and the production
    (``manifest_dir``) curation pipeline with holdout decontamination, a
    DSIR target and token budgets."""

    name = "ingest"
    BASE_POSTS, CHUNKS, DIM, CENTERS = 600, 4, 64, 32
    N_CLUSTERS = 16
    BATCH_POSTS = 4
    STREAM_FILES, DOCS_PER_FILE = 2, 150
    DEDUP_THRESHOLD = 0.5
    DOCS, HOLDOUT, TARGET = 1000, 40, 200
    EXACT_FRAC, NEAR_FRAC, CONTAM = 0.04, 0.04, 20
    NEAR_DUP_THRESHOLD = 0.85
    MALFORMED = ('{"doc_id": 1, "text": ', "{not json", '{"doc_id": "x", "text": 5}')

    def generate(self) -> None:
        n0 = self.BASE_POSTS * self.CHUNKS
        v0 = gen.clustered_vectors(self.rng, n0, self.DIM, self.CENTERS)
        ids = np.arange(1, n0 + 1)
        gen.write_vector_rows(self.path("base_vectors.parquet"), (ids - 1) // self.CHUNKS + 1,
                              (ids - 1) % self.CHUNKS, v0, ids, self.h)
        self.new_posts = list(range(self.BASE_POSTS + 1, self.BASE_POSTS + self.BATCH_POSTS + 1))
        nv = gen.clustered_vectors(self.rng, self.BATCH_POSTS * self.CHUNKS, self.DIM, self.CENTERS)
        self.h.add(nv.tobytes())
        self.chunks = {p: nv[i * self.CHUNKS:(i + 1) * self.CHUNKS] for i, p in enumerate(self.new_posts)}
        tg = gen.TextGen(self.rng)
        self._gen_stream(tg)
        self._gen_drop(tg)

    def _gen_stream(self, tg: gen.TextGen) -> None:
        """Stream files with planted exact and near duplicates, within
        and across files."""
        docs: list[dict] = []
        n_docs = self.STREAM_FILES * self.DOCS_PER_FILE
        n_exact = n_near = 0
        for i in range(n_docs):
            lang = gen.LANGS[i % len(gen.LANGS)]
            if docs and self.rng.random() < 0.08:
                src = docs[int(self.rng.integers(0, len(docs)))]
                toks = src["text"].split()
                if self.rng.random() < 0.5:
                    n_exact += 1
                else:
                    toks = tg.perturb(toks, lang)
                    n_near += 1
                docs.append({"doc_id": i + 1, "text": " ".join(toks)})
            else:
                docs.append({"doc_id": i + 1, "text": " ".join(tg.doc(lang))})
        self.planted.update(stream_docs=n_docs, stream_exact_dups=n_exact, stream_near_dups=n_near)
        os.makedirs(self.path("stream_files"), exist_ok=True)
        self.stream_files = []
        for f in range(self.STREAM_FILES):
            p = self.path("stream_files", f"part-{f:03d}.json")
            gen.write_jsonl(p, docs[f * self.DOCS_PER_FILE:(f + 1) * self.DOCS_PER_FILE], self.h)
            self.stream_files.append(p)

    def _gen_drop(self, tg: gen.TextGen) -> None:
        """A raw multilingual JSONL drop with planted exact duplicates,
        token-perturbed near duplicates, docs carrying a passage of the
        holdout, and malformed lines; plus the holdout and DSIR target."""
        holdout = [" ".join(tg.doc("en")) for _ in range(self.HOLDOUT)]
        target = [" ".join(tg.doc(lang)) for lang in ("en", "de") for _ in range(self.TARGET // 2)]
        rows: list[dict] = []
        exact_copies, contaminated = set(), set()
        n_near = 0
        while len(rows) < self.DOCS:
            doc_id = len(rows) + 1
            lang = gen.LANGS[int(self.rng.integers(0, len(gen.LANGS)))]
            u = self.rng.random()
            if rows and u < self.EXACT_FRAC:
                src = rows[int(self.rng.integers(0, len(rows)))]
                rows.append({**src, "doc_id": doc_id})
                exact_copies.add(doc_id)
                continue
            if rows and u < self.EXACT_FRAC + self.NEAR_FRAC:
                src = rows[int(self.rng.integers(0, len(rows)))]
                toks = tg.perturb(src["text"].split(), src["lang"])
                text, lang = " ".join(toks), src["lang"]
                n_near += 1
                if src["doc_id"] in contaminated:
                    contaminated.add(doc_id)  # the planted passage survives the perturbation
            else:
                toks = tg.doc(lang)
                if len(contaminated) < self.CONTAM and self.rng.random() < 0.02:
                    h = holdout[int(self.rng.integers(0, self.HOLDOUT))].split()
                    at = int(self.rng.integers(0, len(h) - 25))
                    cut = int(self.rng.integers(0, len(toks)))
                    toks = toks[:cut] + h[at:at + 25] + toks[cut:]
                    contaminated.add(doc_id)
                text = " ".join(toks)
            rows.append({"doc_id": doc_id, "text": text, "lang": lang, "source": "crawl",
                         "n_chars": len(text)})
        # an exact copy of a contaminated doc is contaminated too
        by_text: dict[str, list[int]] = {}
        for r in rows:
            by_text.setdefault(r["text"], []).append(r["doc_id"])
        contaminated |= {d for ids in by_text.values() if set(ids) & contaminated for d in ids}
        gen.write_jsonl(self.path("drop.jsonl"), rows, self.h, self.MALFORMED)
        for name, texts in (("holdout", holdout), ("target", target)):
            gen.write_jsonl(self.path(f"{name}.jsonl"),
                            [{"doc_id": i + 1, "text": t} for i, t in enumerate(texts)], self.h)
        self.exact_copies, self.contaminated = exact_copies, contaminated
        self.planted.update(drop_docs=len(rows), drop_exact_dups=len(exact_copies),
                            drop_near_dups=n_near, drop_contaminated=len(contaminated),
                            drop_malformed=len(self.MALFORMED), drop_langs=len(gen.LANGS))
        n_tokens: dict[str, int] = {}
        for r in rows:
            n_tokens[r["lang"]] = n_tokens.get(r["lang"], 0) + len(r["text"].split())
        self.budgets = {lang: int(t * 0.6) for lang, t in sorted(n_tokens.items())}
        self.dsir_keep = int(self.DOCS * 0.6)

    def build(self) -> None:
        from wpvectordb_spark.operators import similarity as SIM
        from wpvectordb_spark.operators import table_ops as TO
        from wpvectordb_spark.table import VectorTableQueue

        spark, tr = self.spark, self.tr
        raw = spark.read.parquet(self.path("base_vectors.parquet"))
        with tr.span("table_ops.derive"):
            TO.derive(raw).write.mode("overwrite").parquet(self.fresh("table_template"))
        with tr.span("similarity.build_ivf_index"):
            SIM.build_ivf_index(spark.read.parquet(self.path("table_template")),
                                self.fresh("ivf_template"), n_clusters=self.N_CLUSTERS,
                                id_col="id", vector_col="vector")
        q = VectorTableQueue(spark, self.fresh("queue_template"))
        q.init()
        q.add_posts(self.new_posts)

    def prepare(self) -> None:
        from wpvectordb_spark.operators import dedup as D

        read = self.spark.read.schema("doc_id long, text string").json
        self.ref_pairs = {
            (int(r[0]), int(r[1]))
            for r in D.minhash_lsh_dedup_pairs(read(self.path("stream_files")),
                                               threshold=self.DEDUP_THRESHOLD)
            .select("id_a", "id_b").collect()
        }
        self.planted["stream_reference_pairs"] = len(self.ref_pairs)
        self.holdout_df = read(self.path("holdout.jsonl"))
        self.target_df = read(self.path("target.jsonl"))

    def run_pass(self, warm: bool = False) -> dict:
        """One pass from the set-up state.  The warm-up pass (``warm``)
        commits one post, feeds one stream file, curates the drop and
        checks nothing."""
        from wpvectordb_spark.table import VectorTable, VectorTableQueue

        # reset to the set-up state: every pass does identical work
        for d in ("table", "queue", "ivf"):
            shutil.copytree(self.path(f"{d}_template"), self.fresh(d))
        for d in ("stream_src", "stream_state", "stream_ckpt", "manifest"):
            self.fresh(d)
        os.makedirs(self.path("stream_src"))
        table = VectorTable(self.spark, self.path("table"), vector_length=self.DIM)
        queue = VectorTableQueue(self.spark, self.path("queue"))
        out = {"latencies": [], "search_latencies": [], "attempted": 0, "failed": 0, "checks": 0}
        spent = {"vec": 0.0, "stream": 0.0, "curate": 0.0}
        t_pass = time.perf_counter()
        n_posts, n_files = (1, 1) if warm else (self.BATCH_POSTS, self.STREAM_FILES)
        batch, bad = self._queue_cycle(table, queue, out, spent, n_posts, n_files)
        out["wall_s"] = time.perf_counter() - t_pass
        if warm:
            return out
        committed = self.BATCH_POSTS * self.CHUNKS
        out["rows_per_s"] = 2 * committed / spent["vec"]  # rows committed, then indexed
        out["docs_per_s"] = (self.planted["stream_docs"] + self.DOCS) / (spent["stream"] + spent["curate"])
        out["stream_docs_per_s"] = self.planted["stream_docs"] / spent["stream"]
        out["drop_docs_per_s"] = self.DOCS / spent["curate"]
        out["microbatch_s"] = [p["durationMs"]["triggerExecution"] / 1000.0
                               for p in self.progress if p["numInputRows"] > 0]
        out["stored_bytes"] = sum(du(self.path(d)) for d in ("table", "queue", "ivf",
                                                              "stream_state", "manifest"))
        self.state_bytes = du(self.path("stream_state"))
        # output checks (outside the timed pass)
        n0 = self.BASE_POSTS * self.CHUNKS
        failed = bad
        failed += table.get_vector_count() != n0 + committed
        stats = queue.get_stats()
        failed += stats.get("completed", 0) != len(batch) or sum(stats.values()) != self.BATCH_POSTS
        failed += len(batch) != self.BATCH_POSTS
        failed += self.spark.read.parquet(self.path("ivf", "vectors")).count() != n0 + committed
        pairs = {(int(r[0]), int(r[1]))
                 for r in self.get_pairs().select("id_a", "id_b").distinct().collect()}
        failed += pairs != self.ref_pairs
        failed += len(out["microbatch_s"]) != self.STREAM_FILES
        failed += self.n_bad != len(self.MALFORMED)
        failed += not self.kept
        failed += bool(self.kept & self.exact_copies)
        failed += bool(self.kept & self.contaminated)
        out["checks"] += 11
        out["failed"] = int(failed)
        if self.tr.enabled:
            self._stage_spans(self.curate_span, self.path("manifest"))
        return out

    def _queue_cycle(self, table, queue, out: dict, spent: dict, n_posts: int,
                     n_files: int) -> tuple[list, int]:
        """get_next_batch, then per post insert_all and a read-your-write
        search, then update_status and an IVF append of the committed
        rows.  The stream micro-batches and the curation drop are
        interleaved between the posts, so the commits are sampled across
        the whole pass rather than in one burst."""
        from wpvectordb_spark.operators import similarity as SIM

        tr = self.tr
        t = time.perf_counter()
        tr.next_request()
        with tr.span("queue.get_next_batch"):
            batch = queue.get_next_batch(n_posts).collect()
        out["attempted"] += 1
        spent["vec"] += time.perf_counter() - t
        t = time.perf_counter()
        query = self._start_stream()
        spent["stream"] += time.perf_counter() - t
        others = [("stream", lambda i=i: self._micro_batch(query, i, out))
                  for i in range(n_files)]
        others.append(("curate", lambda: self._curate(out)))
        # one of the other requests after each post; the last post takes the rest
        after = [others[k:k + 1] for k in range(len(batch))]
        if after:
            after[-1] = others[len(batch) - 1:]
        bad = 0
        try:
            for k, job in enumerate(batch):
                post = int(job["post_id"])
                t = time.perf_counter()
                tr.next_request()
                with tr.span("table.insert_all"):
                    table.insert_all(post, [[float(x) for x in c] for c in self.chunks[post]])
                out["latencies"].append(time.perf_counter() - t)
                t_search = time.perf_counter()
                with tr.span("table.search"):
                    hit = table.search([float(x) for x in self.chunks[post][0]], n=5).collect()
                out["search_latencies"].append(time.perf_counter() - t_search)
                out["attempted"] += 2
                out["checks"] += 1
                bad += not hit or int(hit[0]["post_id"]) != post
                spent["vec"] += time.perf_counter() - t
                for part, run in after[k]:
                    t = time.perf_counter()
                    run()
                    spent[part] += time.perf_counter() - t
            for part, run in [] if after else others:
                t = time.perf_counter()
                run()
                spent[part] += time.perf_counter() - t
            t = time.perf_counter()
            self.progress = list(query.recentProgress)
        finally:
            query.stop()
        spent["stream"] += time.perf_counter() - t
        t = time.perf_counter()
        tr.next_request()
        with tr.span("queue.update_status"):
            queue.update_status([int(j["job_id"]) for j in batch], "completed")
        tr.next_request()
        with tr.span("similarity.append_to_ivf_index"):
            new_rows = table.df().where(F.col("post_id") > self.BASE_POSTS)
            SIM.append_to_ivf_index(self.spark, new_rows, self.path("ivf"),
                                    id_col="id", vector_col="vector")
        out["attempted"] += 2
        spent["vec"] += time.perf_counter() - t
        return batch, bad

    def _start_stream(self):
        from wpvectordb_spark.streaming import streams as ST

        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(self.path("stream_src"))
        )
        self.get_pairs, _, query = ST.stream_dedup_ingest(
            self.spark, stream, threshold=self.DEDUP_THRESHOLD,
            state_path=self.path("stream_state"), checkpoint_path=self.path("stream_ckpt"),
        )
        return query

    def _micro_batch(self, query, i: int, out: dict) -> None:
        """One stream file, then processAllAvailable."""
        f = self.stream_files[i]
        tmp = self.path("stream_src", f".tmp-{i}")
        shutil.copyfile(f, tmp)
        os.rename(tmp, self.path("stream_src", os.path.basename(f)))
        self.tr.next_request()
        with self.tr.span("streams.stream_dedup_ingest") as rec:
            query.processAllAvailable()
        if rec is not None:
            rec["group"] = str(query.runId)
            rec["window"] = True
        out["attempted"] += 1

    def _curate(self, out: dict) -> None:
        """The raw drop through the loader and the manifest-mode pipeline."""
        from wpvectordb_spark.pipelines import curate_training_corpus
        from wpvectordb_spark.sources import loaders as L

        spark, tr = self.spark, self.tr
        tr.next_request()
        with tr.span("loaders.ingest_documents"):
            good, quarantine = L.ingest_documents(spark, self.path("drop.jsonl"))
            n_bad = quarantine.count()
        tr.next_request()
        with tr.span("pipelines.curate_training_corpus") as rec:
            manifest = curate_training_corpus(
                good.select("doc_id", "text", "lang"),
                holdout=self.holdout_df,
                budgets=self.budgets,
                near_dup_threshold=self.NEAR_DUP_THRESHOLD,
                dsir_target=self.target_df,
                dsir_keep=self.dsir_keep,
                seq_len=512,
                num_shards=8,
                seed=self.seed,
                manifest_dir=self.path("manifest"),
            )
            self.kept = {int(r["doc_id"]) for r in manifest.select("doc_id").collect()}
        self.curate_span, self.n_bad = rec, n_bad
        out["attempted"] += 2

    def _stage_spans(self, rec: dict, mdir: str) -> None:
        """One span per ``stageNN_*`` manifest, bounded by the previous
        stage's ``_SUCCESS`` mtime and its own."""
        prev = rec["start"]
        self.stage_rows = {}
        for d in sorted(os.listdir(mdir)):
            marker = os.path.join(mdir, d, "_SUCCESS")
            if not (d.startswith("stage") and os.path.exists(marker)):
                continue
            end = os.stat(marker).st_mtime
            name = d.split("_", 1)[1]
            self.tr.add_span(f"pipelines.stage.{name}", prev, end, rec["group"], rec)
            self.stage_rows[name] = self.spark.read.parquet(os.path.join(mdir, d)).count()
            prev = end

    def probe(self) -> dict[str, float]:
        from wpvectordb_spark.operators import dedup as D
        from wpvectordb_spark.operators import text_analysis as TA
        from wpvectordb_spark.sources import loaders as L

        good, _ = L.ingest_documents(self.spark, self.path("drop.jsonl"))
        docs = good.select("doc_id", "text")
        with self.tr.span("text_analysis.analyze"):
            TA.analyze(docs).write.format("noop").mode("overwrite").save()
        with self.tr.span("dedup.minhash_lsh_dedup_pairs"):
            verified = D.minhash_lsh_dedup_pairs(docs, threshold=self.NEAR_DUP_THRESHOLD).count()
        cand = D.lsh_candidate_pairs(D.minhash_signatures(docs)).count()
        out = {
            "dedup.minhash.pair_precision": verified / cand if cand else 0.0,
            "streams.stream_dedup_ingest.state_bytes": float(self.state_bytes),
        }
        for name, n in self.stage_rows.items():
            out[f"pipelines.stage.{name}.rows_out"] = float(n)
        return out


WORKLOADS = {w.name: w for w in (Search, Ingest)}
