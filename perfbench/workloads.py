"""The benchmark's workloads.

Each workload is a closed loop with one client: :meth:`Workload.op` runs one
batch pass, commit or curation round and returns only when its result is in
hand; the harness calls it again only after that.  The program receives
nothing but the generated inputs and the shipped session.

A workload runs one or more timed phases.  Its throughput phase gives
``docs_per_s`` and its latency phase gives ``commit_s``.

Per workload:

* ``prepare`` makes the inputs (not part of set-up time);
* ``setup`` loads what the program loads once and runs the warm-up passes;
* ``op`` is one timed operation and returns ``(docs, output)``;
* ``finish`` runs the timed calls that close a phase;
* ``check`` scores every output against its oracle, outside the timer;
* ``trace_hooks`` / ``layer_metrics`` give the per-layer view.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import checks
import inputs
import ledger
from ledger import median


@dataclass(frozen=True)
class Phase:
    name: str
    min_ops: int
    # keep starting ops until --seconds have passed; otherwise stop after
    # min_ops or when the input is drained
    by_seconds: bool


class Workload:
    name = ""
    phases: tuple[Phase, ...] = ()
    throughput_phase = ""
    latency_phase = ""

    def __init__(self, work: str, cache: str, seed: int) -> None:
        self.work, self.cache, self.seed = work, cache, seed
        self.drained = False
        self._phase = None  # job-group setter while traced

    def set_phase(self, name: str) -> None:
        if self._phase is not None:
            self._phase(name)

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def begin_timed(self, spark) -> None:
        """Called after set-up, right before the timed phases."""

    def op(self, spark, phase: str, i: int) -> tuple[int, object]:
        raise NotImplementedError

    def finish(self, spark, phase: str, clock) -> list[tuple[str, dict, str | None]]:
        """Timed calls that close a phase: ``(name, clock(start), error)``
        each, ``clock`` being the harness's timer."""
        return []

    def check(self, spark, ops: list[dict]) -> dict:
        """``{"quality": {...}, "op_failures": {op index: reason},
        "checks": [(name, error or None)]}`` for the ops' outputs."""
        raise NotImplementedError

    # ---- tracing -------------------------------------------------------
    def trace_hooks(self, spark, spans: ledger.Spans, phase) -> None:
        """Install the workload's wrappers; ``phase(name)`` sets the job
        group of the current op."""
        self._phase = phase

    def serial_layers(self, spark) -> dict:
        return {}

    def layer_metrics(self, stages, jobs, ops, serial) -> dict:
        return {}


def _outputs(ops: list[dict], phase: str) -> list[tuple[int, object]]:
    return [(o["index"], o["output"]) for o in ops
            if o["kind"] == "op" and o["phase"] == phase and o["error"] is None]


def _timed_call(name: str, fn, clock) -> tuple[str, dict, str | None]:
    start = clock()
    try:
        fn()
        err = None
    except Exception as ex:  # a failed call is reported, not raised
        traceback.print_exc()
        err = f"{type(ex).__name__}: {ex}"
    return name, clock(start), err


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, files in os.walk(path) for f in files)


def _parquet_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


# --------------------------------------------------------------------------
# kg_build: batch passes, then checkpointed commits
# --------------------------------------------------------------------------

class KgBuild(Workload):
    """KG construction two ways in one session.

    ``batch``: the fused pipeline (``plans.fused.build_fused``, KB loaded
    once in set-up) over a seeded, sharded page corpus, collecting the top-1
    links and the triples; nothing is written.  ``commit``: a corpus from
    another seed, loaded by a sequence of
    ``plans.lineage.run_checkpointed(..., max_docs=<slice>)`` commits over
    the whole corpus, so each commit's resume anti-join drops the urls of
    the commits before it; each commit is followed by
    ``plans.maintain.maintain_canonical``; the phase closes with
    ``compact_triples`` and ``vacuum_triples``.  A linker speed-up
    shows in ``docs_per_s``; a per-commit fixed cost shows in
    ``commit_s``."""

    name = "kg_build"
    BATCH_PAGES = 6000
    # two ~500-page slices: the store's bootstrap, then an incremental
    # commit whose anti-join filters out the first slice's urls
    COMMIT_PAGES = 1000
    COMMITS = 2
    phases = (Phase("batch", min_ops=3, by_seconds=True),
              Phase("commit", min_ops=COMMITS, by_seconds=False))
    throughput_phase, latency_phase = "batch", "commit"
    SHARDS = 16
    SEED_OFFSET = 1_000_003  # the commit corpus is not the batch corpus
    SERIAL_SAMPLE = 300
    SERIAL_METRICS = (
        "htmltext.ms_per_doc", "chunker.ms_per_doc", "chunker.chunks_per_doc",
        "tagger.ms_per_doc", "tagger.mentions_per_doc", "linker.ms_per_doc",
        "linker.cand_calls", "linker.cand_hit_ratio")

    def __init__(self, work: str, cache: str, seed: int) -> None:
        super().__init__(work, cache, seed)
        self.n_pages = 0
        self.kb_s: list[float] = []
        self.broadcast_bytes: list[int] = []
        self.repair_s: list[float] = []
        self.canonical_s: list[float] = []
        self.store_bytes: list[int] = []
        self.store_files = 0

    def prepare(self) -> None:
        self.fx = inputs.page_corpus(self.cache, self.seed, self.BATCH_PAGES,
                                     self.SHARDS)
        self.n_pages = checks.count_rows(self.fx + "/pages.parquet")
        # one file, so Spark scans it in generation order and each commit's
        # slice is the same on every seed; of a sharded directory Spark reads
        # the largest files first, and their sizes vary with the seed.  The
        # generator writes its edge-case pages last, so the second commit
        # always brings new entity edges (the incremental canonical path).
        self.inc_fx = inputs.page_corpus(
            self.cache, self.seed + self.SEED_OFFSET, self.COMMIT_PAGES, 1)
        self.inc_pages = self.inc_fx + "/pages.parquet"
        n = checks.count_rows(self.inc_pages)
        self.commit_docs = -(-n // self.COMMITS)

    def setup(self, spark) -> None:
        from entity_extraction_svc_spark.plans import fused

        pages = spark.read.parquet(self.fx + "/pages.parquet")
        self.linked, self.triples = fused.build_fused(spark, pages, self.fx)
        self.op(spark, "batch", -1)  # warm-up pass

    def begin_timed(self, spark) -> None:
        self.store = os.path.join(self.work, f"store-{time.monotonic_ns()}")
        self.commits = 0
        for acc in (self.kb_s, self.broadcast_bytes, self.repair_s,
                    self.canonical_s, self.store_bytes):
            acc.clear()

    def op(self, spark, phase, i):
        return (self._batch if phase == "batch" else self._commit)(spark)

    def _batch(self, spark):
        from pyspark.sql import functions as F

        linked = self.linked.persist()
        try:
            self.set_phase("fused")
            top1 = (linked.filter((F.col("rank") == 0) & F.col("qid").isNotNull())
                    .select("url", "start", "end", "qid").toPandas())
            self.set_phase("triples")
            # a fresh Dataset per pass: re-running the same one would reuse
            # the shuffle files of its first run and skip the work
            triples = self.triples.toDF(*self.triples.columns).toPandas()
        finally:
            linked.unpersist()
        return self.n_pages, (set(top1.itertuples(index=False, name=None)),
                              set(triples.itertuples(index=False, name=None)))

    def _commit(self, spark):
        from entity_extraction_svc_spark.plans import lineage, maintain

        self.set_phase("antijoin")
        # every commit reads the whole corpus: its resume anti-join must
        # drop the urls earlier commits processed
        stats = lineage.run_checkpointed(spark, self.inc_pages, self.inc_fx,
                                         self.store, max_docs=self.commit_docs)
        self.commits += 1
        if self._phase is not None:
            self.store_bytes.append(_dir_bytes(self.store))
        self.set_phase("maintain")
        t0 = time.perf_counter()
        canon = maintain.maintain_canonical(spark, self.store)
        self.canonical_s.append(time.perf_counter() - t0)
        self.drained = self.commits == self.COMMITS
        print(f"commit {stats['run_id']}: {stats['n_pages']} pages, canonical "
              f"{canon.get('status')} (+{canon.get('added_edges', 0)} edges) "
              f"in {self.canonical_s[-1]:.3f}s")
        return stats["n_pages"], {"run_id": stats["run_id"],
                                  "n_pages": stats["n_pages"]}

    def finish(self, spark, phase, clock):
        from entity_extraction_svc_spark.plans import lineage

        if phase != "commit":
            return []
        self.store_files = _parquet_files(self.store)
        out = []
        for name, fn in (("compact", lineage.compact_triples),
                         ("vacuum", lineage.vacuum_triples)):
            self.set_phase(name)
            out.append(_timed_call(name, lambda: fn(spark, self.store), clock))
        return out

    def check(self, spark, ops):
        quality = {"precision": 1.0, "recall": 1.0, "exact_share": 1.0}
        fails, results = {}, []
        batch = _outputs(ops, "batch")
        if batch:
            self._check_batch(spark, batch, quality, fails, results)
        commits = _outputs(ops, "commit")
        if commits:
            self._check_commits(spark, commits, quality, fails, results)
        return {"quality": quality, "op_failures": fails, "checks": results}

    def _check_batch(self, spark, outputs, quality, fails, results):
        from entity_extraction_svc_spark.operators.extract import extract_text

        gold_l, gold_t = checks.golden_links(self.fx), checks.golden_triples(self.fx)
        for i, (links, triples) in outputs:
            sl, st = checks.score(links, gold_l), checks.score(triples, gold_t)
            print(f"batch op {i}: links {checks.fmt(sl)} triples {checks.fmt(st)}")
            checks.fold(quality, sl, st)
            reason = (checks.set_verdict("top-1 links", links, gold_l)
                      or checks.set_verdict("triples", triples, gold_t))
            if reason:
                fails[i] = reason
        # byte-identical extracted text per url: one untimed Spark call
        pages = spark.read.parquet(self.fx + "/pages.parquet")
        got = extract_text(pages).select("url", "text").toPandas()
        share, reason = checks.text_verdict(dict(zip(got["url"], got["text"])),
                                            checks.page_texts(self.fx))
        print(f"extract_text exact share {share:.6f}")
        quality["exact_share"] = min(quality["exact_share"], share)
        results.append(("extract_text", reason))

    def _check_commits(self, spark, outputs, quality, fails, results):
        from pyspark.sql import functions as F

        from entity_extraction_svc_spark.fixtures import TRIPLE_WHITELIST
        from entity_extraction_svc_spark.operators.canonicalize import (
            connected_components,
        )
        from entity_extraction_svc_spark.plans import fused, lineage, maintain

        lin = checks.rows(
            f"SELECT run_id, url, n_linked FROM read_parquet("
            f"'{checks.parquet_src(lineage.lineage_path(self.store))}')")
        gold_counts = checks.golden_link_counts(self.inc_fx)
        op_fails, once, share = checks.lineage_verdicts(lin, outputs, gold_counts)
        fails.update(op_fails)
        results.append(("lineage_once", once))
        quality["exact_share"] = min(quality["exact_share"], share)
        committed = sorted({u for _, u, _ in lin})
        if len(outputs) == self.COMMITS:
            corpus = {u for (u,) in checks.rows(
                f"SELECT url FROM read_parquet("
                f"'{checks.parquet_src(self.inc_pages)}')")}
            results.append(("all_urls_committed", checks.set_verdict(
                "committed urls", set(committed), corpus)))
        store = {tuple(r) for r in lineage.read_triples(spark, self.store).collect()}
        # the batch plan over the same pages must give the same triples
        urls = spark.createDataFrame([(u,) for u in committed], "url string")
        pages = spark.read.parquet(self.inc_pages).join(urls, "url", "left_semi")
        _, batch = fused.build_fused(spark, pages, self.inc_fx)
        results.append(("store_equals_batch", checks.set_verdict(
            "store triples", store, {tuple(r) for r in batch.collect()})))
        # cc labels must equal a recompute over the store's entity edges
        edges = (lineage.read_triples(spark, self.store)
                 .filter(F.col("obj").rlike("^Q[0-9]+$"))
                 .select(F.least("subj", "obj").alias("src"),
                         F.greatest("subj", "obj").alias("dst"))
                 .filter(F.col("src") != F.col("dst")).distinct())
        want = {tuple(r) for r in connected_components(edges).collect()}
        labels, _ = maintain.read_closure(spark, self.store, "entities", prefix="cc")
        got = set() if labels is None else {
            tuple(r) for r in labels.select("node", "comp").collect()}
        results.append(("cc_equals_recompute",
                        checks.set_verdict("cc labels", got, want)))
        st = checks.score(store, checks.expected_triples(
            self.inc_fx, set(committed), TRIPLE_WHITELIST))
        print(f"store triples {checks.fmt(st)}; {len(committed)} urls committed")
        checks.fold(quality, st)

    # ---- tracing -------------------------------------------------------
    def trace_hooks(self, spark, spans, phase):
        from pyspark import SparkContext

        from entity_extraction_svc_spark.plans import lineage

        super().trace_hooks(spark, spans, phase)

        def kb_open() -> None:
            phase("kb")
            self.broadcast_bytes.append(0)

        def kb_close(secs: float) -> None:
            self.kb_s.append(secs)
            phase("link")

        def sized(bc) -> None:
            if self.broadcast_bytes:
                self.broadcast_bytes[-1] += os.path.getsize(bc._path)

        def repair_close(secs: float) -> None:
            self.repair_s.append(secs)
            phase("store_count")

        # build_fused inside a commit: KB read, dict build, broadcasts (the
        # plans it returns are lazy)
        spans.wrap(lineage, "build_fused", "kb", before=kb_open, after=kb_close)
        spans.wrap(SparkContext, "broadcast", "broadcast", on_result=sized)
        spans.wrap(lineage, "repair_metrics", "repair_metrics",
                   before=lambda: phase("repair_metrics"), after=repair_close)

    def layer_metrics(self, stages, jobs, ops, serial):
        def phase_of(row):
            return ledger.split_group(row["group"])[1]

        fused = {}
        for s in stages:
            if ledger.timed(s) and phase_of(s) == "fused" and "MapInPandas" in s["scopes"]:
                fused.setdefault(ledger.split_group(s["group"])[0], s)
        fs = list(fused.values())
        task_ms_per_doc = median(s["task_s"] for s in fs) * 1000 / max(self.n_pages, 1)
        commit_phases = ("antijoin", "kb", "link", "repair_metrics", "store_count")
        n_commits = max(sum(1 for o in ops if o["phase"] == "commit"
                            and o["kind"] == "op"), 1)
        writes = [j for j in jobs if phase_of(j) == "link"
                  and "InsertIntoHadoopFsRelationCommand" in j["plan"]]
        growth = [b - a for a, b in zip([0] + self.store_bytes, self.store_bytes)]
        out = {
            "kb.dicts_s": median(self.kb_s),
            "kb.broadcast_bytes": median(self.broadcast_bytes),
            "fused.stage_s": median(s["wall_s"] for s in fs),
            "fused.task_s": median(s["task_s"] for s in fs),
            "fused.tasks": median(s["tasks"] for s in fs),
            "fused.task_max_over_median": median(
                s["task_max_over_median"] for s in fs),
            "fused.boundary_share": (
                1 - serial.get("serial_ms_per_doc", 0.0) / task_ms_per_doc
                if task_ms_per_doc else 0.0),
            "triples.stage_s": median(ledger.per_op(jobs, "triples", "wall_s")),
            "triples.shuffle_bytes": median(
                ledger.per_op(stages, "triples", "shuffle_bytes")),
            "lineage.jobs_per_commit": sum(
                1 for j in jobs if ledger.timed(j)
                and phase_of(j) in commit_phases) / n_commits,
            "lineage.antijoin_s": median(ledger.per_op(jobs, "antijoin", "wall_s")),
            "lineage.write_s": median(ledger.per_op(writes, "link", "wall_s")),
            "lineage.repair_metrics_s": median(self.repair_s),
            "lineage.bytes_per_commit": median(growth),
            "lineage.store_files": self.store_files,
            "maintain.canonical_s": median(self.canonical_s),
            "maintain.jobs_per_commit": sum(
                1 for j in jobs if ledger.timed(j)
                and phase_of(j) == "maintain") / n_commits,
            "maintain.compact_s": median(o["latency_s"] for o in ops
                                         if o["name"] == "compact"),
        }
        out.update({k: serial.get(k, 0.0) for k in self.SERIAL_METRICS})
        return out

    def serial_layers(self, spark) -> dict:
        """One serial pass over a fixed sample of the batch corpus through
        ``fused.link_page``, with spans around each per-document layer and
        the linker's candidate-cache calls counted."""
        from entity_extraction_svc_spark.functions import htmltext
        from entity_extraction_svc_spark.operators import linker
        from entity_extraction_svc_spark.plans import fused
        from entity_extraction_svc_spark.sources import kb

        sample = checks.rows(
            f"SELECT url, html, lang FROM read_parquet("
            f"'{checks.parquet_src(self.fx + '/pages.parquet')}') "
            f"WHERE html IS NOT NULL ORDER BY url LIMIT {self.SERIAL_SAMPLE}")
        gaz = kb.read_dim_rows(spark, self.fx + "/gazetteer.parquet")
        tagger = fused.load_tagger(gaz)
        fine = fused._fine_tag_lookup(gaz)
        d = kb.collect_linker_dicts(spark, self.fx)
        spans = ledger.Spans()
        spans.wrap(fused, "chunk_doc", "chunker",
                   on_result=lambda out: spans.count("chunks", len(out)))
        spans.wrap(tagger, "tag_batch", "tag_batch")
        spans.wrap(fused, "decode_tagged", "decode",
                   on_result=lambda out: spans.count("mentions", len(out)))
        spans.wrap(fused, "link_doc", "linker")
        spans.wrap(linker, "get_cand_ent_cached", "cand_calls")
        spans.wrap(linker, "get_cand_ent", "cand_misses")
        spans.wrap(htmltext, "preprocess_html", "htmltext")
        try:
            for url, html, lang in sample:
                text = htmltext.preprocess_html(html)
                fused.link_page(d, tagger, fine, url, text, lang or "en")
        finally:
            spans.restore()
        n = len(sample)
        calls = spans.calls["cand_calls"]
        layer_ms = {
            "htmltext.ms_per_doc": spans.total_s["htmltext"] * 1000 / n,
            "chunker.ms_per_doc": spans.total_s["chunker"] * 1000 / n,
            "tagger.ms_per_doc": (spans.total_s["tag_batch"]
                                  + spans.total_s["decode"]) * 1000 / n,
            "linker.ms_per_doc": spans.total_s["linker"] * 1000 / n,
        }
        return {
            **layer_ms,
            "chunker.chunks_per_doc": spans.counts["chunks"] / n,
            "tagger.mentions_per_doc": spans.counts["mentions"] / n,
            "linker.cand_calls": calls,
            "linker.cand_hit_ratio": (1 - spans.calls["cand_misses"] / calls
                                      if calls else 0.0),
            "serial_ms_per_doc": sum(layer_ms.values()),
        }


# --------------------------------------------------------------------------
# curate_dedup
# --------------------------------------------------------------------------

class CurateDedup(Workload):
    """One curation round per op over a seeded documents table: per-doc
    stats, sequence packing, MinHash LSH pairs and exact n-gram Jaccard
    pairs, each collected."""

    name = "curate_dedup"
    phases = (Phase("round", min_ops=3, by_seconds=True),)
    throughput_phase = latency_phase = "round"
    N_DOCS = 1200
    NEAR_DUP_SHARE = 0.1
    THRESHOLD = 0.5
    SEQ_LEN = 128
    STEPS = ("stats", "pack", "minhash", "ngram")

    def __init__(self, work: str, cache: str, seed: int) -> None:
        super().__init__(work, cache, seed)
        self.step_s: dict[str, list[float]] = {k: [] for k in self.STEPS}

    def prepare(self) -> None:
        self.path = inputs.documents_table(self.cache, self.seed, self.N_DOCS,
                                           self.NEAR_DUP_SHARE)

    def setup(self, spark) -> None:
        self._round(spark)  # warm-up round on the timed table

    def begin_timed(self, spark) -> None:
        for v in self.step_s.values():
            v.clear()

    def op(self, spark, phase, i):
        return self.N_DOCS, self._round(spark)

    def _round(self, spark) -> dict:
        from entity_extraction_svc_spark.operators.dedup import (
            minhash_dup_pairs,
            ngram_jaccard_pairs,
        )
        from entity_extraction_svc_spark.operators.packing import pack_sequences
        from entity_extraction_svc_spark.operators.textstats import doc_stats

        docs = spark.read.parquet(self.path)
        calls = {
            "stats": lambda: doc_stats(docs),
            "pack": lambda: pack_sequences(docs, seq_len=self.SEQ_LEN),
            "minhash": lambda: minhash_dup_pairs(docs, threshold=self.THRESHOLD),
            "ngram": lambda: ngram_jaccard_pairs(docs, threshold=self.THRESHOLD),
        }
        out = {}
        for name in self.STEPS:
            self.set_phase(name)
            t0 = time.perf_counter()
            out[name] = calls[name]().toPandas().to_dict("records")
            self.step_s[name].append(time.perf_counter() - t0)
        # ngram_jaccard_pairs leaves its shingle-set frame cached for the
        # caller to clear
        spark.catalog.clearCache()
        return out

    def oracle(self) -> dict:
        """DuckDB ``oracle_sql()`` rows of the four outputs on this table,
        cached beside the table."""
        cached = os.path.join(os.path.dirname(self.path), "oracle.json")
        if os.path.exists(cached):
            with open(cached) as f:
                return json.load(f)
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        queries = {
            "ngram": sql["dedup_ngram_jaccard"],
            "minhash": f"SELECT a, b, score FROM ({sql['dedup_minhash']}) "
                       f"WHERE part = 'pair'",
            "pack": sql["doc_pack"],
            "stats": sql["doc_profile"],
        }

        def fetch(q: str) -> list[dict]:
            con = duckdb.connect(config={"temp_directory": os.path.join(
                self.work, "duckdb_tmp")})
            try:
                con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                            f"read_parquet('{self.path}')")
                return con.execute(q).fetchdf().to_dict("records")
            finally:
                con.close()

        # one connection per query, run side by side: the n-gram oracle
        # runs on one thread, and the four together take about half as long
        # as one after another
        with ThreadPoolExecutor(len(queries)) as ex:
            res = dict(zip(queries, ex.map(fetch, queries.values())))
        res = json.loads(json.dumps(res, default=checks.canon))
        tmp = f"{cached}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(res, f)
        os.replace(tmp, cached)
        return res

    def check(self, spark, ops):
        want = self.oracle()
        quality = {"precision": 1.0, "recall": 1.0, "exact_share": 1.0}
        fails = {}
        for i, out in _outputs(ops, "round"):
            scores, share, reason = judge_round(out, want)
            print(f"round op {i}: " + "; ".join(
                f"{k} {checks.fmt(s)}" for k, s in scores.items())
                + f"; doc_stats exact {share:.6f}")
            checks.fold(quality, *scores.values())
            quality["exact_share"] = min(quality["exact_share"], share)
            if reason:
                fails[i] = reason
        return {"quality": quality, "op_failures": fails, "checks": []}

    def layer_metrics(self, stages, jobs, ops, serial):
        pairs = [len(o["output"]["ngram"]) for o in ops
                 if o["kind"] == "op" and o["output"]]
        records = ledger.per_op(stages, "ngram", "shuffle_records")
        # widen_scan's effect: the width of the first Python pass over the
        # scanned documents in each ngram call (1 = the input's one split)
        first_pass = {}
        for s in stages:
            op, ph = ledger.split_group(s["group"])
            if ledger.timed(s) and ph == "ngram" and "MapInPandas" in s["scopes"]:
                first_pass.setdefault(op, s["tasks"])
        return {
            "dedup.minhash_s": median(self.step_s["minhash"]),
            "dedup.ngram_s": median(self.step_s["ngram"]),
            "dedup.ngram_shuffle_records": median(records),
            "dedup.ngram_shuffle_bytes": median(
                ledger.per_op(stages, "ngram", "shuffle_bytes")),
            "dedup.ngram_pairs_per_candidate": (
                median(pairs) / median(records) if median(records) else 0.0),
            "textstats.stats_s": median(self.step_s["stats"]),
            "packing.pack_s": median(self.step_s["pack"]),
            "scanwide.scan_tasks": median(first_pass.values()),
        }


NGRAM_COLS = ["id_a", "id_b", "jaccard"]
PACK_COLS = ["seq_id", "doc_id", "tok_start", "tok_end", "seq_pos", "n_tokens"]
STATS_COLS = ["doc_id", "n_chars", "n_ws_tokens", "n_re_tokens", "punct_ratio",
              "stopword_ratio", "mean_token_len", "quality_score"]


def judge_round(out: dict, want: dict) -> tuple[dict, float, str | None]:
    """Score one curation round against the oracle rows: per-output scores,
    the share of docs whose stats row is identical, and the first reason
    the round fails (None when every output equals its oracle)."""
    emitted = {
        "ngram": checks.row_set(out["ngram"], NGRAM_COLS),
        "minhash": {(r["id_a"], r["id_b"], checks.canon(round(r["est_jaccard"], 6)))
                    for r in out["minhash"]},
        "pack": checks.row_set(out["pack"], PACK_COLS),
    }
    expected = {
        "ngram": checks.row_set(want["ngram"], NGRAM_COLS),
        "minhash": checks.row_set(want["minhash"], ["a", "b", "score"]),
        "pack": checks.row_set(want["pack"], PACK_COLS),
    }
    scores = {k: checks.score(emitted[k], expected[k]) for k in emitted}
    reason = None
    for k in emitted:
        reason = reason or checks.set_verdict(k, emitted[k], expected[k])
    got = {r["doc_id"]: tuple(checks.canon(r.get(c)) for c in STATS_COLS)
           for r in out["stats"]}
    ref = {r["doc_id"]: tuple(checks.canon(r.get(c)) for c in STATS_COLS)
           for r in want["stats"]}
    share, stats_reason = checks.text_verdict(got, ref, what="doc_stats rows")
    return scores, share, reason or stats_reason


WORKLOADS = {w.name: w for w in (KgBuild, CurateDedup)}
