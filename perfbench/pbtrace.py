"""The traced pass: the workload's job rebuilt from the program's public
functions, with a span around each layer call.

Kernel layers run inside a benchmark-owned ``mapInArrow`` over the job's
own salted partitions.  Its per-document dispatch mirrors
``html_parser_spark.kernel.parse_document`` (dictionary workloads) and
``ops.page_kernel.extract_page_full_kernel`` (crawl workload) call for
call, with a ``perf_counter_ns`` timer around each public function.  Each
task sums its timers over its Arrow batches and writes one JSON file into
the trace directory when its input is exhausted, so kernel self-times are
CPU-seconds, comparable to ``wall_s x cores``.  The traced pass writes the
same result columns as the job, and the benchmark compares their digests:
a mismatch means the mirror no longer follows the kernel.  With no trace
directory the extract step calls the program's own per-document kernel
instead, without timers; the tracing overhead is the traced extract span
less this untraced extract.

Relational layers (graph, curate) are timed on the driver: each public call
is followed by an action on its output, so its span is its self-time.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import traceback
import uuid
from collections import defaultdict

def _norm(records):
    return [
        {
            "spelling": r.get("spelling"),
            "inflection": r.get("inflection"),
            "definitions": [d if isinstance(d, str) else str(d) for d in r.get("definitions", [])],
        }
        for r in records
    ]


def traced_parse(html_bytes: bytes, t: dict, n: dict) -> tuple:
    """``kernel.parse_document`` with a timer around each layer call.
    Returns (fmt, extracted_text, entries, error)."""
    from html_parser_spark.dom import decode_html_bytes, parse_html
    from html_parser_spark.formats import detect
    from html_parser_spark.formats.detect import detect_format
    from html_parser_spark.formats.fastscan import scan_format_a
    from html_parser_spark.formats.format_a import parse_format_a_doc, post_process
    from html_parser_spark.formats.format_b import parse_format_b_doc
    from html_parser_spark.formats.format_c import parse_format_c_doc, refine
    from html_parser_spark.formats.format_d import parse_format_d_entries
    from html_parser_spark.formats.textflat import extract_text_doc

    clock = time.perf_counter_ns
    try:
        a = clock()
        text = decode_html_bytes(html_bytes)
        b = clock()
        t["decode"] += b - a
        fmt = detect_format(text)
        a = clock()
        t["detect"] += a - b
        n["docs." + fmt] += 1
        if fmt == detect.FORMAT_A:
            fast = scan_format_a(text)
            b = clock()
            t["fastscan"] += b - a
            if fast is not None:
                extracted, raw = fast
                entries = _norm(post_process(raw))
                t["postprocess"] += clock() - b
                return fmt, extracted, entries, None
            n["fastscan.fallback"] += 1
        a = clock()
        doc = parse_html(text)
        b = clock()
        t["dom_parse"] += b - a
        if fmt == detect.FORMAT_A:
            ps = doc.query_selector_all("p")
            extracted = extract_text_doc(doc, ps)
            a = clock()
            t["textflat"] += a - b
            af1 = [p for p in ps if "af1" in (p.attrs.get("class") or "").split()]
            entries = _norm(parse_format_a_doc(doc, af1))
            t["format_a"] += clock() - a
            return fmt, extracted, entries, None
        extracted = extract_text_doc(doc)
        a = clock()
        t["textflat"] += a - b
        if fmt == detect.FORMAT_B:
            entries = _norm(parse_format_b_doc(doc))
            t["format_b"] += clock() - a
        elif fmt == detect.FORMAT_C:
            entries = _norm(refine(parse_format_c_doc(doc)))
            t["format_c"] += clock() - a
        elif fmt == detect.FORMAT_D:
            entries = [
                {"spelling": p["src"], "inflection": None, "definitions": [p["trl"]]}
                for p in parse_format_d_entries(doc)
            ]
            t["format_d"] += clock() - a
        else:
            entries = []
        return fmt, extracted, entries, None
    except Exception:
        return "error", None, [], traceback.format_exc(limit=3)


def untraced_parse(html_bytes: bytes, t: dict, n: dict) -> tuple:
    """``kernel.parse_document`` itself, in :func:`traced_parse`'s shape."""
    from html_parser_spark.kernel import parse_document

    r = parse_document(html_bytes)
    return r["fmt"], r["extracted_text"], r["entries"], r["error"]


def traced_page(html_bytes: bytes, url: str, t: dict, n: dict) -> dict:
    """``ops.page_kernel.extract_page_full_kernel`` with layer timers."""
    from html_parser_spark.dom import decode_html_bytes, parse_html
    from html_parser_spark.ops.boilerplate import extract_main_from_root
    from html_parser_spark.ops.html_meta import extract_meta_from_root

    clock = time.perf_counter_ns
    a = clock()
    text = decode_html_bytes(html_bytes if html_bytes else b"")
    b = clock()
    root = parse_html(text)
    c = clock()
    out = extract_main_from_root(root, 25, 0.35)
    d = clock()
    out.update(extract_meta_from_root(root, url))
    e = clock()
    t["decode"] += b - a
    t["dom_parse"] += c - b
    t["boilerplate"] += d - c
    t["meta"] += e - d
    return out


def untraced_page(html_bytes: bytes, url: str, t: dict, n: dict) -> dict:
    """``ops.page_kernel.extract_page_full_kernel`` itself."""
    from html_parser_spark.ops.page_kernel import extract_page_full_kernel

    return extract_page_full_kernel(html_bytes, url)


def _dump(trace_dir: str | None, t: dict, n: dict) -> None:
    if trace_dir is None:
        return
    path = os.path.join(trace_dir, uuid.uuid4().hex + ".json")
    with open(path + ".tmp", "w") as f:
        json.dump({"t": t, "n": n}, f)
    os.replace(path + ".tmp", path)


def dict_mapper(trace_dir: str | None, schema):
    """mapInArrow body: pages batches -> extract_pages result batches
    (``schema``: the Arrow schema of :func:`dict_schema`); untimed when
    ``trace_dir`` is None."""
    parse = traced_parse if trace_dir is not None else untraced_parse

    def run(batches):
        import pyarrow as pa

        t, n = defaultdict(int), defaultdict(int)
        for batch in batches:
            n["arrow.batches"] += 1
            cols = batch.to_pydict()
            fmts, texts, entries, n_entries, errors = [], [], [], [], []
            for h in cols["html"]:
                fmt, text, ent, err = parse(h if h is not None else b"", t, n)
                fmts.append(fmt)
                texts.append(text)
                entries.append(ent)
                n_entries.append(len(ent))
                errors.append(err)
            yield pa.RecordBatch.from_pydict(
                {
                    "url": cols["url"],
                    "warc_ts": cols["warc_ts"],
                    "lang": cols["lang"],
                    "fmt": fmts,
                    "extracted_text": texts,
                    "entries": entries,
                    "n_entries": n_entries,
                    "n_bytes_in": [len(h) if h is not None else None for h in cols["html"]],
                    "error": errors,
                },
                schema=schema,
            )
        _dump(trace_dir, t, n)

    return run


def page_mapper(trace_dir: str | None, schema):
    """mapInArrow body: pages batches -> flagship extract-stage batches
    (``schema``: the Arrow schema of :func:`page_schema`); untimed when
    ``trace_dir`` is None."""
    page = traced_page if trace_dir is not None else untraced_page

    def run(batches):
        import pyarrow as pa

        t, n = defaultdict(int), defaultdict(int)
        for batch in batches:
            n["arrow.batches"] += 1
            cols = batch.to_pydict()
            out = {k: [] for k in PAGE_FIELDS}
            for u, h in zip(cols["url"], cols["html"]):
                r = page(h, u if u is not None else "", t, n)
                for k in PAGE_FIELDS:
                    out[k].append(r[k])
            data = {"url": cols["url"], "warc_ts": cols["warc_ts"], "lang": cols["lang"], **out,
                    "n_bytes_in": [len(h) if h is not None else None for h in cols["html"]]}
            yield pa.RecordBatch.from_pydict(data, schema=schema)
        _dump(trace_dir, t, n)

    return run


def dict_schema():
    from pyspark.sql import types as T

    from html_parser_spark.spark.pipeline import PARSED_TYPE

    p = {f.name: f.dataType for f in PARSED_TYPE.fields}
    return T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("lang", T.StringType()),
            T.StructField("fmt", p["fmt"]),
            T.StructField("extracted_text", p["extracted_text"]),
            T.StructField("entries", p["entries"]),
            T.StructField("n_entries", p["n_entries"]),
            T.StructField("n_bytes_in", T.IntegerType()),
            T.StructField("error", p["error"]),
        ]
    )


PAGE_FIELDS = ["main_text", "n_blocks", "n_content_blocks", "content_chars", "boiler_chars", "outlinks", "robots"]


def page_schema():
    from pyspark.sql import types as T

    from html_parser_spark.ops.page_kernel import PAGE_FULL_TYPE

    p = {f.name: f.dataType for f in PAGE_FULL_TYPE.fields}
    return T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("warc_ts", T.TimestampType()),
         T.StructField("lang", T.StringType())]
        + [T.StructField(k, p[k]) for k in PAGE_FIELDS]
        + [T.StructField("n_bytes_in", T.IntegerType())]
    )


def read_kernel(trace_dir: str) -> tuple[dict, dict]:
    """Sum the per-task timer files: (layer -> CPU seconds, counters)."""
    t, n = defaultdict(float), defaultdict(int)
    for name in os.listdir(trace_dir):
        if name.endswith(".json"):
            with open(os.path.join(trace_dir, name)) as f:
                d = json.load(f)
            for k, v in d["t"].items():
                t[k] += v / 1e9
            for k, v in d["n"].items():
                n[k] += v
    return t, n


class Spans:
    """Driver-side spans: ``with spans("graph.pagerank.s"): ...`` adds the
    block's wall time to that layer."""

    def __init__(self):
        self.s = defaultdict(float)

    @contextlib.contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.s[name] += time.perf_counter() - t0


def traced_dict_pass(spark, pages_dir: str, out_dir: str, trace_dir: str | None, partitions: int,
                     spans: Spans, group: str) -> None:
    """extract_job's default path (scan -> salted exchange -> parse ->
    parquet) with the traced kernel in place of ``parse_html_udf``."""
    from html_parser_spark.spark.pipeline import salted_repartition

    from pyspark.sql.pandas.types import to_arrow_schema

    schema = dict_schema()
    mapper = dict_mapper(trace_dir, to_arrow_schema(schema))
    spark.sparkContext.setJobGroup(group, "traced extract")
    with spans("extract"):
        pages = spark.read.parquet(pages_dir).select("url", "warc_ts", "html", "lang")
        res = salted_repartition(pages, partitions).mapInArrow(mapper, schema)
        res.write.mode("overwrite").parquet(os.path.join(out_dir, "data"))


def crawl_extract(spark, pages_dir: str, out_dir: str, trace_dir: str | None, partitions: int,
                  group: str):
    """flagship_job's extract stage (``CheckpointedExtraction`` over the
    salted partitions) with the traced page kernel in place of
    ``page_full_udf``.  Returns the results DataFrame."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from html_parser_spark.spark.checkpoint import CheckpointedExtraction
    from html_parser_spark.spark.pipeline import salted_repartition

    schema = page_schema()
    mapper = page_mapper(trace_dir, to_arrow_schema(schema))

    def transform(src):
        src = salted_repartition(src.select("url", "warc_ts", "html", "lang"), partitions)
        return src.mapInArrow(mapper, schema)

    spark.sparkContext.setJobGroup(group, "traced extract")
    pages = spark.read.parquet(pages_dir).select("url", "warc_ts", "html", "lang")
    ck = CheckpointedExtraction(spark, os.path.join(out_dir, "extract"))
    ck.run(pages, transform=transform)
    return ck.results()


def traced_crawl_pass(spark, pages_dir: str, out_dir: str, trace_dir: str, partitions: int,
                      spans: Spans, group: str, iterations: int = 3, min_tokens: int = 10) -> dict:
    """flagship_job --gopher (extract -> graph -> curate) rebuilt from the
    public calls it makes, each followed by an action.  Returns the curate
    funnel."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from html_parser_spark.ops.corpus import assign_split, dedup_survivors, repetition_stats
    from html_parser_spark.ops.gopher import gopher_rules
    from html_parser_spark.ops.html_meta import noindex_filter
    from html_parser_spark.ops.linkgraph import host_edges, host_graph_stats, pagerank_fixed_point
    from html_parser_spark.ops.web import canonicalize_url, latest_capture

    sc = spark.sparkContext
    mem = StorageLevel.MEMORY_AND_DISK
    with spans("extract"):
        results = crawl_extract(spark, pages_dir, out_dir, trace_dir, partitions, group)
    sc.setJobGroup(group + "-rest", "traced graph and curate")
    g_dir = os.path.join(out_dir, "graph")
    with spans("graph.host_edges.s"):
        host_edges(results.select("url", "outlinks")).write.mode("overwrite").parquet(
            os.path.join(g_dir, "edges"))
        edges = spark.read.parquet(os.path.join(g_dir, "edges"))
    with spans("graph.pagerank.s"):
        ranks = pagerank_fixed_point(edges, iterations=iterations)
        ranks.join(host_graph_stats(edges), "node", "left").write.mode("overwrite").parquet(
            os.path.join(g_dir, "ranks"))
    with spans("curate.prepare.s"):
        res = noindex_filter(results).where(F.col("main_text").isNotNull()).select(
            canonicalize_url("url").alias("url"), "warc_ts",
            F.col("main_text").alias("extracted_text"), "lang")
        docs = latest_capture(res).select(
            F.xxhash64("url").alias("doc_id"), F.col("extracted_text").alias("text"), "lang"
        ).persist(mem)
        n_in = docs.count()
    with spans("curate.repetition_stats.s"):
        keep = repetition_stats(docs).where(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("top_word_frac") <= 0.5)
            & (F.col("dup_bigram_frac") <= 0.9)
        ).select("doc_id")
        docs = docs.join(keep, "doc_id", "left_semi").persist(mem)
        docs.count()
    with spans("curate.gopher.s"):
        docs = gopher_rules(docs, min_words=min_tokens).where(F.col("keep")).select(
            "doc_id", "text", "lang").persist(mem)
        n_filtered = docs.count()
    with spans("curate.dedup_survivors.s"):
        docs = dedup_survivors(
            docs.withColumn("n_chars", F.length("text").cast("long")), num_hashes=8, bands=4
        ).persist(mem)
        n_dedup = docs.count()
    with spans("curate.assign_split.s"):
        docs = assign_split(docs).persist(mem)
        docs.count()
    with spans("curate.write.s"):
        docs.write.mode("overwrite").partitionBy("split").parquet(os.path.join(out_dir, "curate", "docs"))
    return {"docs_in": n_in, "after_quality_filter": n_filtered, "after_dedup": n_dedup}
