"""The benchmark's workloads. Each drives the package's public entry points
on inputs from ``inputs.py`` and checks the program's outputs.

A workload has these phases:

* ``generate`` makes the seeded inputs in memory (once per run) and
  ``prepare`` stages them as files (in every set-up round),
* ``warm`` is what every new session pays before the op runs warm: it
  starts the Python workers and runs the op's main shape once on a small
  input, so imports, model loads and the first crossing fall in set-up,
* ``warm_plans`` runs the op's plans once more at full size, or its other
  plan shapes on small inputs; the JVM keeps their generated and compiled
  code, so this is paid once per JVM,
* ``op`` is the unit of measured work (one pass, one query), repeated
  for the run's measuring time; ``summary`` reduces the ops to the run's
  ``wall_s`` and ``docs_per_s``,
* ``check`` runs the op's plan (or, where a reference is too slow at full
  size, the same public query on a small seeded table) and compares its
  outputs with an independent reference,
* in traced runs, ``traced_op`` runs once with spans, and ``trace_probes``
  drives paths the op does not.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import inputs
from observe import Tracer
from safe_zone_spark.sources.corpus import generate_corpus_pandas


@dataclass
class Op:
    wall_s: float
    docs: int
    step: str  # what the op ran: "pass", or the dedup query's name


def force(df) -> None:
    """Materialize every column into the noop sink (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


def scrub_transform(raw, width: int, keep_cols: tuple[str, ...], tracer,
                    check_cols: bool = False):
    """The flagship batch shape: ensure_parallelism → fused extract + detect
    + langid + perplexity crossing → Gopher quality → final keep.
    ``check_cols`` also keeps the columns final_keep is computed from; the
    crossing returns them either way, so the plan up to the final
    projection is the same."""
    from pyspark.sql import functions as F

    from safe_zone_spark.functions.langid import classify_series
    from safe_zone_spark.functions.perplexity import DEFAULT_PPL_MAX, perplexity_series
    from safe_zone_spark.functions.quality import gopher_quality_columns
    from safe_zone_spark.operators.scan import extract_and_scan
    from safe_zone_spark.plans.pipeline import ensure_parallelism
    from safe_zone_spark.rules import default_rules

    with tracer.span("plans.pipeline.ensure_parallelism"):
        raw = ensure_parallelism(raw, width)
    with tracer.span("operators.scan.extract_and_scan"):
        out = extract_and_scan(
            raw, default_rules(), keep_cols=keep_cols,
            fields=("keep", "scrubbed_text", "overall_confidence"),
            extra_scorers={"lang_pred": ("string", classify_series),
                           "ppl": ("double", perplexity_series)},
        )
    with tracer.span("functions.quality.gopher_quality_columns"):
        q = gopher_quality_columns("text")
    extra = (["text", "keep", "lang_pred", "ppl", q["quality_keep"].alias("quality_keep")]
             if check_cols else [])
    return out.select(
        *keep_cols,
        (F.col("keep") & q["quality_keep"] & (F.col("lang_pred") != "und")
         & (F.col("ppl") <= DEFAULT_PPL_MAX)).alias("final_keep"),
        "scrubbed_text", "overall_confidence", *extra,
    )


def kept_count(spark, corpus_dir: str, width: int) -> int:
    """Final-keep count of the flagship shape over a corpus."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(corpus_dir).select("url", "warc_ts", "html")
    row = scrub_transform(raw, width, ("url",), Tracer(False)).agg(
        F.sum(F.col("final_keep").cast("long"))).first()
    return int(row[0] or 0)


class Workload:
    name = ""
    # docs in the html batch the crossing functions are timed on (about one
    # crossing task's Arrow batch at 4 cores)
    crossing_batch = 2000
    # fewest ops a run measures, even past its measuring time
    min_ops = 1

    def __init__(self, cores: int) -> None:
        self.cores = cores
        self.width = 2 * cores

    def generate(self, seed: int) -> None:
        raise NotImplementedError

    def prepare(self, spark, in_dir: str) -> None:
        raise NotImplementedError

    def warm(self, spark, tracer) -> None:
        raise NotImplementedError

    def warm_plans(self, spark, tracer) -> None:
        pass

    def op(self, spark, k: int, out_dir: str, tracer) -> Op:
        raise NotImplementedError

    def summary(self, ops: list[Op]) -> tuple[float, float]:
        """(wall_s, docs_per_s) of the run: the median op."""
        wall = statistics.median(o.wall_s for o in ops)
        return wall, ops[0].docs / wall

    def traced_op(self, spark, out_dir, tracer) -> Op:
        return self.op(spark, 0, out_dir, tracer)

    def last_wall(self, ops: list[Op]) -> float:
        """Untraced time of what ``traced_op`` runs, from the latest ops
        (the ops still speed up as the JVM warms, so the latest are the
        fair comparison)."""
        return ops[-1].wall_s

    def check(self, spark) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def crossing_htmls(self) -> list[bytes]:
        """html of the workload's own inputs, for the in-process timing of
        the crossing's functions."""
        raise NotImplementedError

    def kept_frac(self, spark) -> float:
        """Useful-outcome share of the traced op's output."""
        raise NotImplementedError

    def layer_metrics(self, ops, ev) -> dict[str, float]:
        """Workload-specific per-layer metrics of the timed ops and the
        traced op's events."""
        return {}

    def trace_probes(self, spark, out_dir, tracer) -> dict[str, tuple[float, float]]:
        """Traced runs only: drive paths the timed op does not. Returns each
        path's measured (start, end) in epoch ms."""
        return {}

    def probe_metrics(self, events) -> dict[str, float]:
        """Per-layer metrics of the probed paths, from each one's events."""
        return {}


class CrawlScrub(Workload):
    """The flagship batch shape into the noop sink. Its traced run also
    drives the commit path and the streaming path on the same corpus."""

    name = "crawl_scrub"
    n_docs = 60_000
    rows_per_file = 500
    min_ops = 2
    sample_mod = 241  # url-hash sample: pmod(xxhash64(url), 241) == 0

    def generate(self, seed):
        self.frame = generate_corpus_pandas(self.n_docs, seed)

    def prepare(self, spark, in_dir):
        self.corpus_dir = os.path.join(in_dir, "corpus")
        self.files = inputs.write_corpus_files(self.frame, self.corpus_dir,
                                               self.rows_per_file)
        self.paths = {}
        self._kept = None

    def flagship_kept(self, spark) -> int:
        if self._kept is None:
            self._kept = kept_count(spark, self.corpus_dir, self.width)
        return self._kept

    def _raw(self, spark, paths=None):
        return spark.read.parquet(*(paths or [self.corpus_dir])).select(
            "url", "warc_ts", "html")

    def warm(self, spark, tracer):
        force(scrub_transform(self._raw(spark, self.files[:1]), self.width, ("url",), tracer))

    def warm_plans(self, spark, tracer):
        # the first full-size pass runs slower until the JVM has compiled
        # its hot paths
        self.op(spark, 0, "", tracer)

    def op(self, spark, k, out_dir, tracer):
        t0 = time.perf_counter()
        df = scrub_transform(self._raw(spark), self.width, ("url",), tracer)
        with tracer.span("sink.noop_write"):
            force(df)
        return Op(time.perf_counter() - t0, self.n_docs, "pass")

    def crossing_htmls(self):
        return list(self.frame.html[: self.crossing_batch])

    def check(self, spark):
        df = scrub_transform(self._raw(spark), self.width, ("url",), Tracer(False),
                             check_cols=True)
        out = check_sample(df, self.sample_mod)
        for path in self.paths.values():
            out += path.checks(spark)
        return out

    def kept_frac(self, spark):
        return self.flagship_kept(spark) / self.n_docs

    def trace_probes(self, spark, out_dir, tracer):
        self.paths = {"commit": CommitPath(self), "stream": StreamPath(self.files,
                                                                       self.rows_per_file)}
        return {name: path.run(spark, os.path.join(out_dir, name), tracer)
                for name, path in self.paths.items()}

    def probe_metrics(self, events):
        out = {}
        for name, ev in events.items():
            out.update(self.paths[name].metrics(ev))
        return out


class CommitPath:
    """The production batch job's write and resume path, driven in
    crawl_scrub's traced run: the flagship transform through
    run_with_manifest into unit-partitioned parquet plus manifests, one
    invocation stopping at half the units, a second resuming."""

    num_units = 8

    def __init__(self, crawl: CrawlScrub) -> None:
        self.crawl = crawl

    def _commit(self, spark, paths, out_dir, tracer) -> list[int]:
        from safe_zone_spark.plans.pipeline import run_with_manifest

        crawl = self.crawl

        def transform(df):
            return scrub_transform(df, crawl.width, ("unit", "url"), tracer)

        units_done = []
        for max_units in (self.num_units // 2, None):
            with tracer.span("plans.pipeline.run_with_manifest"):
                units_done.append(run_with_manifest(
                    crawl._raw(spark, paths), transform,
                    output_path=os.path.join(out_dir, "kept"),
                    manifest_path=os.path.join(out_dir, "manifests"), run_id="commit",
                    num_units=self.num_units, kept_col="final_keep", max_units=max_units))
        return units_done

    def run(self, spark, out_dir, tracer) -> tuple[float, float]:
        """A small warm-up commit, then the measured one over the corpus.
        Returns the measured part's (start, end) in epoch ms."""
        self._commit(spark, self.crawl.files[:2], os.path.join(out_dir, "warm"), Tracer(False))
        self.manifest_path = os.path.join(out_dir, "commit", "manifests")
        t0_ms = time.time() * 1000
        self.units_done = self._commit(spark, None, os.path.join(out_dir, "commit"), tracer)
        return t0_ms, time.time() * 1000

    def checks(self, spark) -> list[tuple[str, bool, str]]:
        """Each invocation committed half the units; the manifests cover
        every doc once and count the flagship shape's keeps."""
        from pyspark.sql import functions as F

        crawl = self.crawl
        rows = spark.read.parquet(self.manifest_path).collect()
        units = sorted(r["unit"] for r in rows)
        fp = 0
        for r in rows:
            fp ^= r["input_fingerprint"]
        want_fp = spark.read.parquet(crawl.corpus_dir).agg(
            F.bit_xor(F.xxhash64("url"))).first()[0]
        n_docs = sum(r["n_docs"] for r in rows)
        n_kept = sum(r["n_kept"] for r in rows)
        flagship_kept = crawl.flagship_kept(spark)
        half = self.num_units // 2
        return [
            ("commit_invocations", self.units_done == [half, self.num_units - half],
             f"units per invocation {self.units_done}"),
            ("commit_manifest_cover", units == list(range(self.num_units))
             and n_docs == crawl.n_docs and fp == want_fp,
             f"{len(units)} unit rows, {n_docs}/{crawl.n_docs} docs, "
             f"fingerprint {'ok' if fp == want_fp else 'differs'}"),
            ("commit_manifest_kept", n_kept == flagship_kept,
             f"manifest n_kept {n_kept}, flagship keep count {flagship_kept}"),
        ]

    def metrics(self, ev) -> dict[str, float]:
        """run_with_manifest's SQL executions, split by what they do."""
        out = {"commit.unit_select_s": 0.0, "commit.compute_s": 0.0,
               "commit.write_s": 0.0, "commit.manifest_s": 0.0,
               "commit.files_written": ev.total("number of written files"),
               "commit.bytes_written": ev.total("written output")}
        for e in ev.executions:
            plan = e["plan"]
            if "InsertIntoHadoopFsRelationCommand" in plan:
                key = ("commit.manifest_s" if self.manifest_path in plan
                       else "commit.write_s")
            elif "TakeOrderedAndProject" in plan:
                key = "commit.unit_select_s"
            else:
                key = "commit.compute_s"
            out[key] += e["duration_s"]
        return out


def check_sample(df, sample_mod: int) -> list[tuple[str, bool, str]]:
    """On a url-hash sample of the flagship output ``df`` (built with
    ``check_cols``; the sample is taken after the crossing, so the crossing
    sees the op's batches): keep and scrubbed_text byte-identical to the
    Python Detect oracle; lang_pred and ppl equal to their DuckDB twins on
    the sample's ASCII docs (the twins' documented domain); final_keep equal
    to its definition over the sampled columns."""
    import duckdb
    from pyspark.sql import functions as F

    from safe_zone_spark.functions.langid import langid_ngram_oracle_sql
    from safe_zone_spark.functions.perplexity import DEFAULT_PPL_MAX, perplexity_oracle_sql
    from safe_zone_spark.oracle import detect
    from safe_zone_spark.rules import default_rules

    import __spark_entry__ as entry

    rows = df.filter(F.pmod(F.xxhash64("url"), F.lit(sample_mod)) == 0).toPandas()
    rules = default_rules()
    bad = 0
    for text, keep, scrubbed in zip(rows.text, rows.keep, rows.scrubbed_text):
        ref = detect(text, rules)
        bad += (ref.keep, ref.redacted_text) != (bool(keep), scrubbed)
    results = [("detect_oracle", len(rows) > 0 and bad == 0,
                f"{len(rows)} sampled, {bad} differ from oracle.detect")]
    want = (rows.keep & rows.quality_keep & (rows.lang_pred != "und")
            & (rows.ppl <= DEFAULT_PPL_MAX))
    keep_bad = int((want != rows.final_keep).sum())
    results.append(("final_keep", len(rows) > 0 and keep_bad == 0,
                    f"{len(rows)} sampled, {keep_bad} final_keep differ from "
                    "keep & quality_keep & lang_pred != 'und' & ppl <= max"))

    ascii_rows = rows[rows.text.map(str.isascii)].reset_index(drop=True)
    ascii_rows["doc_id"] = range(len(ascii_rows))
    cpath, tri_path, ctx_path, _, _ = entry._model_tables()
    con = duckdb.connect()
    try:
        con.register("sample_docs", ascii_rows[["doc_id", "text"]])
        lang = dict(con.execute(langid_ngram_oracle_sql(cpath, table="sample_docs")).fetchall())
        ppl = dict(con.execute(perplexity_oracle_sql(tri_path, ctx_path,
                                                     table="sample_docs")).fetchall())
    finally:
        con.close()
    lang_bad = sum(lang.get(i) != v for i, v in enumerate(ascii_rows.lang_pred))
    # the twin emits round(ppl, 4): the engine's raw value must lie within
    # half a unit of that last digit
    ppl_bad = sum(i not in ppl or abs(v - ppl[i]) > 0.5e-4 + 1e-12 * v
                  for i, v in enumerate(ascii_rows.ppl))
    n = len(ascii_rows)
    results.append(("langid_twin", n > 0 and lang_bad == 0,
                    f"{n} ascii docs, {lang_bad} lang_pred differ"))
    results.append(("perplexity_twin", n > 0 and ppl_bad == 0,
                    f"{n} ascii docs, {ppl_bad} ppl differ"))
    return results


class StreamPath:
    """Cron-mode streaming scrub (jobs/stream_scrub.py), driven in
    crawl_scrub's traced run: a single-threaded mover lands two waves of
    corpus files, each drained by one availableNow run_pipeline invocation
    on one checkpoint."""

    files_per_wave = 4
    max_files_per_trigger = 2

    def __init__(self, files: list[str], rows_per_file: int) -> None:
        self.files = files[: 2 * self.files_per_wave]
        self.n_docs = len(self.files) * rows_per_file

    @staticmethod
    def _land(files, source_dir):
        """The mover: copy, then rename into place (the file source ignores
        dot-files, so no half-written file is read)."""
        for src in files:
            name = os.path.basename(src)
            tmp = os.path.join(source_dir, "." + name)
            shutil.copyfile(src, tmp)
            os.replace(tmp, os.path.join(source_dir, name))

    def _drain(self, spark, source_dir, out_dir, run_id):
        from safe_zone_spark.sources.corpus import corpus_schema
        from safe_zone_spark.streaming.pipeline import run_pipeline

        return run_pipeline(spark, source_dir, out_dir, schema=corpus_schema(),
                            run_id=run_id, max_files_per_trigger=self.max_files_per_trigger)

    def run(self, spark, out_dir, tracer) -> tuple[float, float]:
        """A one-file warm-up drain, then the measured two-wave drain.
        Returns the measured part's (start, end) in epoch ms."""
        warm_src = os.path.join(out_dir, "warm", "src")
        os.makedirs(warm_src)
        self._land(self.files[:1], warm_src)
        self._drain(spark, warm_src, os.path.join(out_dir, "warm", "out"), "warm")

        self.out_dir = os.path.join(out_dir, "stream")
        source = os.path.join(self.out_dir, "src")
        os.makedirs(source)
        self.progress, self.starts = [], []
        t0_ms = time.time() * 1000
        for w in range(2):
            with tracer.span("mover.land_wave"):
                self._land(self.files[w * self.files_per_wave:(w + 1) * self.files_per_wave],
                           source)
            self.starts.append(time.time())
            with tracer.span("streaming.pipeline.run_pipeline"):
                q = self._drain(spark, source, self.out_dir, "stream")
            self.progress.append([_progress_dict(p) for p in q.recentProgress])
        return t0_ms, time.time() * 1000

    def checks(self, spark) -> list[tuple[str, bool, str]]:
        """Unique batch ids in the manifests, and every landed doc counted."""
        rows = spark.read.parquet(os.path.join(self.out_dir, "manifests")).collect()
        ids = [r["batch_id"] for r in rows]
        n_docs = sum(r["n_docs"] for r in rows)
        return [("stream_manifests", len(ids) == len(set(ids)) > 0 and n_docs == self.n_docs,
                 f"{len(ids)} batch rows ({len(set(ids))} unique), "
                 f"{n_docs}/{self.n_docs} docs landed")]

    def metrics(self, ev) -> dict[str, float]:
        batches = [p for inv in self.progress for p in inv if p["numInputRows"] > 0]
        n = max(1, len(batches))
        out = {f"stream.{k}_ms": sum(p["durationMs"].get(k, 0) for p in batches) / n
               for k in ("triggerExecution", "addBatch", "walCommit", "commitOffsets",
                         "queryPlanning", "latestOffset")}
        out["stream.batches"] = len(batches)
        out["stream.rows_per_batch"] = sum(p["numInputRows"] for p in batches) / n
        out["stream.jobs_per_batch"] = ev.jobs / n
        out["stream.py_init_s"] = ev.total("time to initialize Python workers")
        out["stream.files_written"] = ev.total("number of written files")
        # second invocation: its call to its first trigger's start
        out["stream.restart_s"] = _iso_epoch(self.progress[1][0]["timestamp"]) - self.starts[1]
        return out


def _progress_dict(p) -> dict:
    import json

    return json.loads(p.json) if hasattr(p, "json") else dict(p)


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


# the registry's dedup queries that ROADMAP directions 4 and 5 change: the
# ngram split and hot shingle, the embedding bucket, the connected-components
# step after the minhash pairs, and the benchmark-text collect
DEDUP_QUERIES = ("dedup_ngram_jaccard", "dedup_embedding", "dedup_fuzzy_docs",
                 "decontaminate")


class DedupSweep(Workload):
    """The registry's dedup queries, each collected to Arrow: shuffle-heavy
    plans that bypass the scan crossing. One op is one query; the ops cycle
    through DEDUP_QUERIES, and a sweep's time is the sum of each query's
    median."""

    name = "dedup_sweep"
    # the row counts of the shipped sf0.1 tables
    n_docs = 5_000
    n_vecs = 2_000
    # the check tables: small enough for the DuckDB twins of the two
    # queries whose twins grow quadratically (dedup_embedding's pairwise
    # distances, dedup_fuzzy_docs' recursive connected components)
    check_docs = 150
    check_vecs = 200
    check_queries = ("dedup_embedding", "dedup_fuzzy_docs")
    # one cycle: a second would add 15 s to every run, more than the
    # benchmark's time budget of 3,420 s for its 4 + 22 × 2 runs allows
    min_ops = len(DEDUP_QUERIES)

    def generate(self, seed):
        self.tables = inputs.dedup_tables(seed, self.n_docs, self.n_vecs)
        self.check_tables = inputs.dedup_tables(seed + 1, self.check_docs, self.check_vecs)

    def prepare(self, spark, in_dir):
        self.sf_dir = os.path.join(in_dir, "sf")
        self.check_dir = os.path.join(in_dir, "sf_check")
        inputs.write_tables(self.tables, self.sf_dir)
        inputs.write_tables(self.check_tables, self.check_dir)
        self.outputs, self.check_outputs = {}, {}

    def warm(self, spark, tracer):
        import __spark_entry__ as entry

        entry.queries()["decontaminate"](spark, self.check_dir).toArrow()

    def warm_plans(self, spark, tracer):
        """The check queries once on the check tables, their outputs kept
        for the check. The plans are built in turn and run concurrently, so
        their fixed per-query costs overlap."""
        from concurrent.futures import ThreadPoolExecutor

        import __spark_entry__ as entry

        queries = entry.queries()
        frames = [queries[name](spark, self.check_dir) for name in self.check_queries]
        with ThreadPoolExecutor(len(frames)) as pool:
            self.check_outputs = dict(zip(self.check_queries,
                                          pool.map(lambda df: df.toArrow(), frames)))

    def _query(self, spark, name, sf_dir, tracer):
        import __spark_entry__ as entry

        t0 = time.perf_counter()
        with tracer.span(f"dedup.{name}"):
            table = entry.queries()[name](spark, sf_dir).toArrow()
        return time.perf_counter() - t0, table

    def op(self, spark, k, out_dir, tracer):
        name = DEDUP_QUERIES[(k - 1) % len(DEDUP_QUERIES)]
        wall, self.outputs[name] = self._query(spark, name, self.sf_dir, tracer)
        return Op(wall, self.n_docs, name)

    def summary(self, ops):
        wall = sum(self.query_medians(ops).values())
        return wall, self.n_docs / wall

    @staticmethod
    def query_medians(ops) -> dict[str, float]:
        return {name: statistics.median(o.wall_s for o in ops if o.step == name)
                for name in DEDUP_QUERIES}

    def last_wall(self, ops):
        return sum({o.step: o.wall_s for o in ops}.values())

    def traced_op(self, spark, out_dir, tracer):
        """One sweep of every query."""
        wall = 0.0
        for name in DEDUP_QUERIES:
            t, self.outputs[name] = self._query(spark, name, self.sf_dir, tracer)
            wall += t
        return Op(wall, self.n_docs, "sweep")

    def crossing_htmls(self):
        import pyarrow.parquet as pq

        from safe_zone_spark.sources.corpus import wrap_html

        texts = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"),
                              columns=["text"]).column("text").to_pylist()
        return [wrap_html(t, i) for i, t in enumerate(texts[: self.crossing_batch])]

    def check(self, spark):
        """Every query's output equals its oracle_sql() twin on DuckDB under
        oracle_compare's relation hash: dedup_ngram_jaccard and decontaminate
        as the timed ops returned them, dedup_embedding and dedup_fuzzy_docs
        as the plan warm-up returned them on the check tables. The timed
        dedup_fuzzy_docs output must also label every document exactly once."""
        import duckdb

        import __spark_entry__ as entry

        spec = importlib.util.spec_from_file_location(
            "oracle_compare", os.path.join(os.getcwd(), "scripts", "oracle_compare.py"))
        oc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(oc)
        oracles = entry.oracle_sql()
        results = []
        full = [n for n in DEDUP_QUERIES if n not in self.check_queries]
        for sf_dir, outputs, names in ((self.sf_dir, self.outputs, full),
                                       (self.check_dir, self.check_outputs,
                                        self.check_queries)):
            con = duckdb.connect()
            try:
                for t in ("documents", "embeddings"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{sf_dir}/{t}.parquet')")
                for name in names:
                    tbl = outputs[name]
                    cur = con.execute(oracles[name])
                    ocols = [d[0] for d in cur.description]
                    orows = [tuple(r) for r in cur.fetchall()]
                    srows = [tuple(r.values()) for r in tbl.to_pylist()]
                    ok = (len(srows) == len(orows)
                          and sorted(tbl.column_names) == sorted(ocols)
                          and oc.relation_hash(tbl.column_names, srows)
                          == oc.relation_hash(ocols, orows))
                    results.append((name, ok, f"{os.path.basename(sf_dir)}: spark "
                                    f"{len(srows)} rows, oracle {len(orows)} rows"))
            finally:
                con.close()
        ids = self.outputs["dedup_fuzzy_docs"].column("doc_id").to_pylist()
        results.append(("dedup_fuzzy_docs_cover",
                        sorted(ids) == list(range(self.n_docs)),
                        f"sf: {len(ids)} rows, {len(set(ids))} distinct doc ids, "
                        f"{self.n_docs} docs"))
        return results

    def kept_frac(self, spark):
        keep = self.outputs["dedup_fuzzy_docs"].column("is_keeper").to_pylist()
        return sum(keep) / len(keep)

    def layer_metrics(self, ops, ev):
        return {f"dedup.{name}_s": t for name, t in self.query_medians(ops).items()}


WORKLOADS = {w.name: w for w in (CrawlScrub, DedupSweep)}
