"""The benchmark's workloads. Each one is a closed loop with one client:
``op`` runs one operation to completion (outputs written or collected)
before the next starts.

Each workload class provides:

- ``prepare(tag)``: generate the seeded inputs into a fresh directory
  and load them into the form the program reads (Parquet dims, the
  alias index); the caller times it;
- ``op(i)``: one operation; returns what ``check`` needs;
- ``check(out)``: failure messages for one operation's output;
- ``once()``: checks run once per run, outside the timed loop;
- ``staged(stager)``: one traced pass, calling each layer's public
  function and materializing its output before the next layer runs;
- ``summary(op_seconds)``: the workload's own wall-time figures
  (``ep_run_s``, ``corpus_run_s``, ``link_batch_ms_p50``, ...).
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drugbankner_spark import pipelines as P
from drugbankner_spark.caching import cache_mark, release_shared_caches
from drugbankner_spark.functions.normalize import remove_brackets, split_sentences
from drugbankner_spark.operators import corpus, dedup, drugbank, graph, linker
from drugbankner_spark.operators import ner as NER
from drugbankner_spark.operators.synonymizer import Synonymizer
from drugbankner_spark.schemas import CLUSTERS_SCHEMA, EDGES_SCHEMA, NODES_SCHEMA
from drugbankner_spark.sources import xml_source

import checks
import gen

#: Per-layer metrics every layer reports: ``eager_jobs`` ran during the
#: call, ``jobs`` while materializing its output; stages, tasks and
#: shuffle bytes cover both. spill_mb goes to the span file only: at
#: these input sizes nothing spills.
LAYER_METRICS = ("build_s", "eager_jobs", "exec_s", "jobs", "stages",
                 "tasks", "shuffle_write_mb", "rows_out")
#: unit of a per-layer metric, by the last part of its name; every
#: other per-layer metric is a ratio
UNITS = {"build_s": "s", "exec_s": "s", "run_s": "s", "recompute_gap_s": "s",
         "shuffle_write_mb": "MB", "eager_jobs": "count", "jobs": "count",
         "stages": "count", "tasks": "count", "rows_out": "count",
         "candidate_pairs": "count", "iterations": "count"}


def unit_of(metric: str) -> str:
    return UNITS.get(metric.rsplit(".", 1)[1], "ratio")


def isolate(spark) -> None:
    """Drop every cache between operations, so Spark's plan-matched
    cache cannot serve one operation's persisted subtrees to the next."""
    release_shared_caches()
    spark.catalog.clearCache()
    if cache_mark() != 0:
        raise RuntimeError("shared-cache registry not empty after release")


def _json_lines(path: str) -> list[str]:
    lines = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            lines.extend(line.rstrip("\n") for line in f if line.strip())
    return lines


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return 100.0, max(values)
    q = 100.0 * (n - 10) / n
    return q, sorted(values)[n - 11]


class Stager:
    """One traced pass: every layer call gets a span with a ``build``
    child (the call, including any jobs it runs eagerly) and an
    ``exec`` child (local checkpoint + count of its output, whose inputs
    were materialized the same way). A checkpoint rather than a persist:
    it cuts the lineage, so a later layer's plan is its own and not
    every earlier layer's plan matched against the cache (with persist,
    one staged ep_drugbank pass took 109 s against 34 s)."""

    def __init__(self, tracer, op_id: int):
        self.tracer = tracer
        self.op_id = op_id
        self.calls: list[tuple[str, dict]] = []

    def layer(self, name: str, build):
        with self.tracer.span(name, self.op_id):
            with self.tracer.span(name + ".build", self.op_id) as b:
                out = build()
            with self.tracer.span(name + ".exec", self.op_id) as e:
                rows = 0
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint()
                    rows = out.count()
        self.calls.append((name, {
            "build_s": b.seconds, "eager_jobs": len(b.jobs),
            "exec_s": e.seconds, "jobs": len(e.jobs),
            "stages": b.stages + e.stages, "tasks": b.tasks + e.tasks,
            "shuffle_write_mb": (b.shuffle_write_mb or 0.0)
            + (e.shuffle_write_mb or 0.0),
            "rows_out": rows,
        }))
        return out

    def sums(self) -> dict[str, dict[str, float]]:
        """Per layer, each metric summed over this pass's calls."""
        out: dict[str, dict[str, float]] = {}
        for name, m in self.calls:
            acc = out.setdefault(name, dict.fromkeys(LAYER_METRICS, 0.0))
            for k, v in m.items():
                acc[k] += v
        return out

    def staged_seconds(self, names: tuple[str, ...]) -> float:
        """Build plus exec time of the calls to the named layers."""
        return sum(m["build_s"] + m["exec_s"] for n, m in self.calls
                   if n in names)


class Workload:
    name = ""
    #: untimed operations before the timed ones. 0: timing starts cold.
    #: With three untimed corpus_clean operations and a timed loop bound
    #: by a deadline, op_cpu_s spread 0.14 of itself across ten seeds
    #: (the JIT was still compiling, and a slow host ran fewer, costlier
    #: operations); timed from cold with a fixed count, 0.08.
    warmup_ops = 0
    #: nominal wall seconds of one timed operation: a run times
    #: ``round(seconds / op_seconds)`` operations (at least one), a count
    #: fixed by ``--seconds`` alone, so every run does the same work
    op_seconds = 1.0
    #: set-ups per run, ``setup_s`` is their median: a set-up takes under
    #: a second and speeds up as the JVM warms, so the median of three
    #: spread 0.2 of itself across seeds
    setup_repeats = 5
    #: the traced run also times one unstaged, checked operation per
    #: pass, and checks the staged pass's output (``staged_sink``)
    #: against it
    trace_unstaged = False
    #: the layers a staged pass of this workload calls, and the figures
    #: it reports beside their ``LAYER_METRICS``
    layers: tuple[str, ...] = ()
    extras: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, cpus: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.env: dict = {}

    def input_dir(self, tag: int) -> str:
        d = os.path.join(self.work, f"inputs-{tag}")
        os.makedirs(d, exist_ok=True)
        return d

    def timed_ops(self, seconds: float) -> int:
        return max(1, round(seconds / self.op_seconds))

    def once(self) -> list[list[str]]:
        return []


class EpDrugbank(Workload):
    """DrugBank XML → NER → KG2 alignment, both branches, then EP2's
    identifier merge into the mechanistic nodes and the reference JSON,
    written to a JSON sink. The timed operation is the first one in the
    session: a batch ETL pays its JIT and codegen on every run."""

    name = "ep_drugbank"
    op_seconds = 60.0
    trace_unstaged = True
    # A run's cost is mostly per-plan and per-job overhead, not data, so
    # the input stays small enough for one cold run to fit the per-run
    # time budget.
    N_DRUGS = 60
    N_CONCEPTS = 500
    #: the layers of one operation, in order (plus the sink write)
    op_layers = (
        "xml_source.read_normalize", "drugbank.extract_drug_records",
        "ner.prepare_sentences", "ner.spot_mentions", "linker.link_by_tfidf",
        "ner.align_detected", "ner.merge_longest_name", "alignment.run_ep2",
        "pipelines.assemble_reference_json", "ep.sink",
    )
    layers = (*op_layers[:-1], "linker.save_alias_index",
              "linker.link_with_alias_index")
    extras = (
        "drugbank.extract_drug_records.anchor_ratio",
        "ner.prepare_sentences.keep_ratio", "ner.spot_mentions.hit_ratio",
        "linker.link_by_tfidf.linked_ratio", "ep.run_s", "ep.recompute_gap_s",
        "linker.link_with_alias_index.certified_fraction",
        "linker.link_with_alias_index.used_champions",
    )

    def prepare(self, tag: int) -> None:
        d = self.input_dir(tag)
        paths, self.doc, kg2 = gen.write_ep_inputs(
            self.seed, d, self.N_DRUGS, self.N_CONCEPTS)
        self.xml = paths["xml"]
        self.dims = {}
        for name, schema in (("nodes", NODES_SCHEMA),
                             ("clusters", CLUSTERS_SCHEMA),
                             ("edges", EDGES_SCHEMA)):
            out = os.path.join(d, f"{name}.parquet")
            self.spark.read.schema(schema).json(paths[name]) \
                .write.mode("overwrite").parquet(out)
            self.dims[name] = out
        self.first_digest = None
        self.env = {"drugs": self.doc.n_drugs, "anchored": self.doc.n_anchored,
                    "kg2_nodes": len(kg2.aliases()),
                    "xml_bytes": len(self.doc.xml),
                    "planted_pairs": len(self.doc.planted),
                    "alias_gram_df": gen.gram_df_stats(kg2.aliases())}

    def syn(self) -> Synonymizer:
        r = self.spark.read.parquet
        return Synonymizer(r(self.dims["nodes"]), r(self.dims["clusters"]),
                           r(self.dims["edges"]))

    def _branches(self, records):
        return (
            (records.filter(F.col("indication").isNotNull()
                            & (F.col("indication") != "")),
             remove_brackets(F.col("indication")), NER.DISEASE_CATEGORIES),
            (records, P.mechanistic_text(), NER.MECHANISTIC_CATEGORIES),
        )

    def _write(self, reference: DataFrame, i: int) -> str:
        sink = os.path.join(self.work, "sinks", f"op{i}")
        reference.write.mode("overwrite").json(sink)
        return sink

    def op(self, i: int) -> str:
        syn = self.syn()
        nodes = syn.nodes
        records = drugbank.extract_drug_records(
            xml_source.normalize_drugs(
                xml_source.read_drugbank_xml(self.spark, self.xml)), syn)
        out = []
        for src, text, cats in self._branches(records):
            sents = NER.prepare_sentences(src, text, ["kg2_id"])
            det = NER.spot_mentions(sents, "sentence", ["kg2_id"],
                                    nodes.select("name"), "name", max_tokens=4)
            det = NER.link_entities_tfidf(det, nodes.select("id", "name"),
                                          threshold=0.7, k=1)
            aligned = NER.align_detected(det, syn, ["kg2_id"])
            out.append(NER.merge_longest_name(aligned, ["kg2_id"], cats))
        indication, mech = out
        ep2 = P.run_ep2(records, mech, syn)
        return self._write(P.assemble_reference_json(records, indication, ep2),
                           i % 2)

    def check(self, sink: str) -> list[str]:
        ref = _json_lines(sink)
        errs = checks.check_ep_planted(ref, self.doc.planted)
        d = checks.digest(ref)
        if self.first_digest is None:
            self.first_digest = d
        return errs + checks.check_same_digest(self.first_digest, d)

    def staged(self, st: Stager) -> dict[str, float]:
        syn = self.syn()
        nodes = syn.nodes
        drugs = st.layer("xml_source.read_normalize", lambda: xml_source.normalize_drugs(
            xml_source.read_drugbank_xml(self.spark, self.xml)))
        records = st.layer("drugbank.extract_drug_records",
                           lambda: drugbank.extract_drug_records(drugs, syn))
        counts = dict.fromkeys(("pieces", "kept", "sents", "hit_sents",
                                "mentions", "linked"), 0)
        out = []
        for src, text, cats in self._branches(records):
            sents = st.layer("ner.prepare_sentences",
                             lambda: NER.prepare_sentences(src, text, ["kg2_id"]))
            det = st.layer("ner.spot_mentions", lambda: NER.spot_mentions(
                sents, "sentence", ["kg2_id"], nodes.select("name"), "name",
                max_tokens=4))
            # the linking stage: ner.link_entities_tfidf is a filter/join
            # shell around linker.link_by_tfidf's fit and probe
            lnk = st.layer("linker.link_by_tfidf", lambda: NER.link_entities_tfidf(
                det, nodes.select("id", "name"), threshold=0.7, k=1))
            aligned = st.layer("ner.align_detected",
                               lambda: NER.align_detected(lnk, syn, ["kg2_id"]))
            out.append(st.layer("ner.merge_longest_name",
                                lambda: NER.merge_longest_name(aligned, ["kg2_id"], cats)))
            counts["pieces"] += src.select(F.explode(split_sentences(text))).count()
            counts["kept"] += sents.count()
            hit = F.col("entity_text").isNotNull()
            row = det.agg(
                F.count_distinct(F.when(hit, F.struct("kg2_id", "sentence"))).alias("h"),
                F.sum(F.when(hit, 0).otherwise(1)).alias("m")).first()
            counts["hit_sents"] += row["h"]
            counts["sents"] += row["h"] + (row["m"] or 0)
            row = lnk.agg(
                F.count_distinct("entity_text").alias("e"),
                F.count_distinct(F.when(F.col("kb_id").isNotNull(),
                                        F.col("entity_text"))).alias("l")).first()
            counts["mentions"] += row["e"]
            counts["linked"] += row["l"]
        indication, mech = out
        ep2 = st.layer("alignment.run_ep2", lambda: P.run_ep2(records, mech, syn))
        ref = st.layer("pipelines.assemble_reference_json",
                       lambda: P.assemble_reference_json(records, indication, ep2))
        self.staged_sink = st.layer("ep.sink", lambda: self._write(ref, 0))
        n_drugs, n_records = (m["rows_out"] for n, m in st.calls[:2])
        ratios = {
            "drugbank.extract_drug_records.anchor_ratio": n_records / max(n_drugs, 1),
            "ner.prepare_sentences.keep_ratio": counts["kept"] / max(counts["pieces"], 1),
            "ner.spot_mentions.hit_ratio": counts["hit_sents"] / max(counts["sents"], 1),
            "linker.link_by_tfidf.linked_ratio": counts["linked"] / max(counts["mentions"], 1),
        }
        # Serving the same KG2's linker from a published index, probed
        # with this run's distinct mentions: the serving layers' trace on
        # a workload whose timed operation does not call them.
        mentions = lnk.filter(F.col("entity_text").isNotNull()) \
            .select(F.col("entity_text").alias("mention")).distinct()
        ratios.update(serve_layers(st, self.spark, nodes.select("id", "name"),
                                   os.path.join(self.work, "traced_index"),
                                   mentions))
        return ratios

    def summary(self, op_s: list[float]) -> dict[str, tuple[float, str]]:
        return {"ep_run_s": (statistics.median(op_s), "s")}


def serve_layers(st: Stager, spark, aliases: DataFrame, index: str,
                 mentions: DataFrame, publish: bool = True) -> dict[str, float]:
    """Trace ``save_alias_index`` (unless ``publish`` is False) and one
    ``link_with_alias_index`` probe of ``mentions``."""
    if publish:
        st.layer("linker.save_alias_index", lambda: linker.save_alias_index(
            aliases, "name", "id", index))
    stats: dict = {}
    st.layer("linker.link_with_alias_index", lambda: linker.link_with_alias_index(
        spark, index, mentions, "mention", threshold=0.7, k=1,
        probe_stats=stats))
    # certified_fraction is None when the probe took the flat path
    # (champions off): reported as 0 beside used_champions = 0
    return {
        "linker.link_with_alias_index.certified_fraction":
            float(stats.get("certified_fraction") or 0.0),
        "linker.link_with_alias_index.used_champions":
            float(bool(stats.get("used_champions"))),
    }


class Kg2LinkServe(Workload):
    """Publish the KG2 alias index during set-up, then probe it with
    batches of distinct mentions. At this size (~2k aliases, below
    ``linker.CHAMPION_AUTO_MIN_ALIASES``) probes take the flat
    bucket-pruned path, not the champion lists."""

    name = "kg2_link_serve"
    warmup_ops = 1
    op_seconds = 2.0
    setup_repeats = 3  # each set-up publishes an index
    N_CONCEPTS = 1000
    N_BATCHES = 40
    BATCH = 200
    layers = ("linker.save_alias_index", "linker.link_with_alias_index")
    extras = ("linker.link_with_alias_index.certified_fraction",
              "linker.link_with_alias_index.used_champions")

    def prepare(self, tag: int) -> None:
        d = self.input_dir(tag)
        paths, kg2, self.batches = gen.write_link_inputs(
            self.seed, d, self.N_CONCEPTS, self.N_BATCHES, self.BATCH)
        path = paths["nodes"]
        self.aliases_path = os.path.join(d, "aliases.parquet")
        self.spark.read.schema(NODES_SCHEMA).json(path).select("id", "name") \
            .write.mode("overwrite").parquet(self.aliases_path)
        self.index = os.path.join(d, "alias_index")
        t0 = time.perf_counter()
        linker.save_alias_index(self.aliases(), "name", "id", self.index)
        self.publish_s.append(time.perf_counter() - t0)
        nodes, _, _ = kg2.rows()
        self.cluster_of_node = {r["id"]: r["cluster_id"] for r in nodes}
        self.cluster_of_name = {r["name"]: r["cluster_id"] for r in nodes}
        self.env = {"kg2_nodes": len(nodes), "batches": self.N_BATCHES,
                    "batch_size": self.BATCH,
                    "alias_gram_df": gen.gram_df_stats(kg2.aliases())}

    def __init__(self, *args):
        super().__init__(*args)
        self.publish_s: list[float] = []

    def aliases(self) -> DataFrame:
        return self.spark.read.parquet(self.aliases_path)

    def mentions(self, b: int) -> DataFrame:
        return self.spark.createDataFrame(
            pd.DataFrame({"mention": [m for m, _ in self.batches[b]]}))

    def op(self, i: int):
        b = i % self.N_BATCHES
        rows = linker.link_with_alias_index(
            self.spark, self.index, self.mentions(b), "mention",
            threshold=0.7, k=1).collect()
        return b, [(r["mention"], r["alias_id"], r["score"], r["rank"])
                   for r in rows]

    def check(self, out) -> list[str]:
        b, rows = out
        exact = [m for m, is_exact in self.batches[b] if is_exact]
        top = [(m, a) for m, a, _, rank in rows if rank == 1]
        return checks.check_link_exact(top, exact, self.cluster_of_node,
                                       self.cluster_of_name)

    def once(self) -> list[list[str]]:
        b, probe = self.op(0)
        isolate(self.spark)
        inline = linker.link_by_tfidf(
            self.mentions(b), "mention", self.aliases(), "name", "id",
            threshold=0.7, k=1).collect()
        isolate(self.spark)
        return [checks.check_link_parity(
            probe, [(r["mention"], r["alias_id"], r["score"], r["rank"])
                    for r in inline])]

    def staged(self, st: Stager) -> dict[str, float]:
        # publish once per traced run; every later pass only probes
        first = st.op_id == 0
        return serve_layers(
            st, self.spark, self.aliases(),
            os.path.join(self.work, "traced_index") if first else self.index,
            self.mentions(st.op_id % self.N_BATCHES), publish=first)

    def summary(self, op_s: list[float]) -> dict[str, tuple[float, str]]:
        q, t = tail(op_s)
        return {
            "link_publish_s": (statistics.median(self.publish_s), "s"),
            "link_batch_ms_p50": (1000 * statistics.median(op_s), "ms"),
            "link_batch_ms_tail": (1000 * t, "ms"),
            "link_batch_tail_pct": (q, f"percentile, of n={len(op_s)} batches"),
        }


class CorpusClean(Workload):
    """MinHash candidate pairs → clean_corpus (connected-components
    fixpoint, then Gopher rules)."""

    name = "corpus_clean"
    op_seconds = 7.0
    N_DOCS = 3000
    layers = ("dedup.minhash_band_pairs_rowwise", "graph.connected_components",
              "corpus.gopher_quality_filter")
    extras = ("dedup.minhash_band_pairs_rowwise.candidate_pairs",
              "dedup.minhash_band_pairs_rowwise.planted_pair_recall",
              "graph.connected_components.iterations",
              "corpus.gopher_quality_filter.keep_ratio")

    def prepare(self, tag: int) -> None:
        d = self.input_dir(tag)
        paths, self.corpus = gen.write_corpus_inputs(self.seed, d, self.N_DOCS)
        path = paths["documents"]
        self.docs_path = os.path.join(d, "documents.parquet")
        self.spark.read.schema("doc_id long, text string").json(path) \
            .write.mode("overwrite").parquet(self.docs_path)
        self.env = {"docs": len(self.corpus.docs),
                    "exact_groups": len(self.corpus.exact_groups),
                    "near_pairs": len(self.corpus.near_pairs)}

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.docs_path)

    def pairs(self, docs: DataFrame) -> DataFrame:
        return dedup.minhash_band_pairs_rowwise(
            docs, "text", "doc_id", 16, parallelism=self.cpus)

    def op(self, i: int) -> list[int]:
        docs = self.docs()
        out = corpus.clean_corpus(docs, self.pairs(docs))
        return [r["doc_id"] for r in out.select("doc_id").collect()]

    def check(self, survivors: list[int]) -> list[str]:
        return checks.check_corpus(survivors, self.corpus.exact_groups)

    def staged(self, st: Stager) -> dict[str, float]:
        docs = self.docs()
        pairs = st.layer("dedup.minhash_band_pairs_rowwise", lambda: self.pairs(docs))
        stats: dict = {}
        st.layer("graph.connected_components",
                 lambda: graph.connected_components(pairs, stats=stats))
        q = st.layer("corpus.gopher_quality_filter",
                     lambda: corpus.gopher_quality_filter(docs))
        found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        planted = [tuple(sorted(p)) for p in self.corpus.near_pairs]
        return {
            "dedup.minhash_band_pairs_rowwise.candidate_pairs": float(len(found)),
            "dedup.minhash_band_pairs_rowwise.planted_pair_recall":
                sum(p in found for p in planted) / max(len(planted), 1),
            "graph.connected_components.iterations": float(stats["rounds"]),
            "corpus.gopher_quality_filter.keep_ratio":
                q.filter(F.col("keep")).count() / max(q.count(), 1),
        }

    def summary(self, op_s: list[float]) -> dict[str, tuple[float, str]]:
        return {"corpus_run_s": (statistics.median(op_s), "s")}


WORKLOADS = {w.name: w for w in (EpDrugbank, Kg2LinkServe, CorpusClean)}


def layer_metric_names(w: type[Workload]) -> list[str]:
    """The per-layer metrics a traced pass of workload ``w`` measures."""
    return [f"{layer}.{m}" for layer in w.layers for m in LAYER_METRICS] \
        + list(w.extras)


def per_layer_names() -> list[str]:
    """Every per-layer metric name, across all workloads, once each."""
    names = []
    for w in WORKLOADS.values():
        names += layer_metric_names(w)
    return list(dict.fromkeys(names))


def traced_metrics(wl: Workload, tracer, seconds: float,
                   record) -> dict[str, float]:
    """Staged passes while another fits in ``seconds`` (at least one),
    each preceded on ep_drugbank by one unstaged operation; check
    results go to ``record``. Per-layer medians over passes, for the
    layers the workload calls."""
    samples, extras, runs, gaps = [], [], [], []
    deadline = time.perf_counter() + seconds
    op_id = 0
    last = 0.0
    while not samples or time.perf_counter() + last < deadline:
        t0 = time.perf_counter()
        if wl.trace_unstaged:
            with tracer.span(f"{wl.name}.run", op_id) as s:
                out = wl.op(op_id)
            isolate(wl.spark)
            record(wl.check(out))
        with tracer.span(f"{wl.name}.staged", op_id):
            st = Stager(tracer, op_id)
            extras.append(wl.staged(st))
        isolate(wl.spark)
        samples.append({f"{name}.{k}": v for name, m in st.sums().items()
                        for k, v in m.items()})
        if wl.trace_unstaged:
            record(wl.check(wl.staged_sink))
            runs.append(s.seconds)
            gaps.append(s.seconds - st.staged_seconds(wl.op_layers))
        op_id += 1
        last = time.perf_counter() - t0
    out = {}
    for key in layer_metric_names(type(wl)):
        vals = [x[key] for x in samples + extras if key in x]
        if vals:
            out[key] = statistics.median(vals)
    if runs:
        out["ep.run_s"] = statistics.median(runs)
        out["ep.recompute_gap_s"] = statistics.median(gaps)
    return out


def trace_every_layer(wl: Workload, tracer, seconds: float, record,
                      make) -> dict[str, float]:
    """Every per-layer metric: ``wl``'s own passes for ``seconds``, then
    one pass of each workload that calls a layer ``wl`` does not, on
    that workload's own inputs (``make(cls)`` builds and prepares it).
    So each per-layer metric is measured in every traced run; on a
    workload that does not call a layer, it comes from that one pass."""
    out = traced_metrics(wl, tracer, seconds, record)
    for cls in WORKLOADS.values():
        if set(layer_metric_names(cls)) - set(out):
            other = make(cls)
            out = {**traced_metrics(other, tracer, 0.0, record), **out}
    return {k: out[k] for k in per_layer_names()}
