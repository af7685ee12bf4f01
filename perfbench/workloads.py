"""The two workloads: their steps, the probes a traced run adds, and the
references their outputs are checked against.

A step is one plan build followed by one forced action. The action folds
every output column into one ``(rows, xor of row hashes)`` digest inside
the JVM, so the whole plan runs but nothing is shipped back to Python.

A traced pass runs the same steps with the program's public source and
operator functions wrapped in spans (``instrumented``), so the spans split
the pass that the untraced passes time. The probes then force each layer
on its own, outside the pass.
"""

from __future__ import annotations

import functools
import gzip
import os
import shutil
import sys
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from unittest import mock

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ppdb_parser_spark.operators import dedup as dedup_ops
from ppdb_parser_spark.operators import graph as graph_ops
from ppdb_parser_spark.operators.ppdb import parse_ppdb
from ppdb_parser_spark.queries import REGISTRY
from ppdb_parser_spark.queries import ppdb as ppdb_queries
from ppdb_parser_spark.queries.similarity import _index_dir
from ppdb_parser_spark.sources.ppdb_pack import lines_values_sql
from ppdb_parser_spark.sources.tables import load_table
from ppdb_parser_spark.sources.text import read_text_lines, reshard_to_parquet

from .inputs import Inputs
from .tracing import Tracer

#: Public functions of the program a traced pass wraps in spans, by layer.
#: The span is named ``<layer>.<function>``.
HOOKS: dict[str, list[Callable]] = {
    "sources": [read_text_lines, reshard_to_parquet, load_table],
    "operators": [
        parse_ppdb,
        dedup_ops.jaccard_packed_base,
        dedup_ops.jaccard_pairs_from_index,
        dedup_ops.jaccard_pairs_prefix,
        graph_ops.connected_components,
        graph_ops.incremental_components,
    ],
}

#: The near-dup kernels a warm ``corpus_dedup`` pass calls; their seconds in
#: the traced pass are per-layer metrics. (The others in ``HOOKS`` build the
#: persisted indexes, which happens in the set-up passes only.)
KERNELS = ["jaccard_pairs_from_index", "incremental_components"]


def _spanned(tr: Tracer, layer: str, fn: Callable) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tr.span(f"{layer}.{fn.__name__}", layer):
            return fn(*args, **kwargs)

    return wrapper


@contextmanager
def instrumented(tr: Tracer) -> Iterator[None]:
    """Wrap every ``HOOKS`` function in a span, wherever the program or the
    benchmark bound it, and restore the originals on exit."""
    saved = []
    mods = [m for n, m in list(sys.modules.items()) if n.split(".")[0] in ("ppdb_parser_spark", "perfbench")]
    for layer, fns in HOOKS.items():
        for fn in fns:
            wrapper = _spanned(tr, layer, fn)
            for mod in mods:
                if getattr(mod, fn.__name__, None) is fn:
                    saved.append((mod, fn.__name__, fn))
                    setattr(mod, fn.__name__, wrapper)
    try:
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def digest(df: DataFrame) -> str:
    """``"<rows>:<xor of xxhash64 over all columns>"`` in one JVM-side
    aggregate. Map and variant columns are not hashable, so they go through
    JSON / string first."""
    cols = []
    for f in df.schema.fields:
        s = f.dataType.simpleString()
        c = F.col(f"`{f.name}`")
        if "map<" in s:
            c = F.to_json(F.struct(c))
        elif "variant" in s:
            c = c.cast("string")
        cols.append(c)
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(F.struct(*cols))).alias("h")
    ).collect()[0]
    return f"{row.n}:{row.h}"


def digest_rows(d: str | None) -> int:
    return int(d.split(":", 1)[0]) if d else 0


@dataclass
class Ctx:
    spark: SparkSession
    inputs: Inputs
    work_dir: str

    @property
    def pack_glob(self) -> str:
        return self.inputs.pack_dir + "/*.txt.gz"

    @property
    def parquet_out(self) -> str:
        return os.path.join(self.work_dir, "ppdb_parquet")


@dataclass(frozen=True)
class Step:
    name: str
    build: Callable[[Ctx], DataFrame]
    act: Callable[[Ctx, DataFrame], str] = lambda ctx, df: digest(df)


# --------------------------------------------------------------------------
# ppdb_ingest: gzip pack -> parse -> aggregate; parse -> parquet; parquet ->
# top paraphrases. The two query steps run the registered plans, with the
# plans' pack locators pointed at the seeded pack or the written parquet.
# --------------------------------------------------------------------------
def _parse_stats(ctx: Ctx) -> DataFrame:
    with mock.patch.object(ppdb_queries, "ensure_big_pack", lambda *a, **k: ctx.inputs.pack_dir):
        return REGISTRY["ppdb_parse_throughput"].fn(ctx.spark, ctx.inputs.corpus_dir)


def _requery_parquet(ctx: Ctx) -> DataFrame:
    def parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.read.parquet(ctx.parquet_out)

    with mock.patch.object(ppdb_queries, "_parsed", parsed):
        return REGISTRY["ppdb_top_paraphrases"].fn(ctx.spark, ctx.inputs.corpus_dir)


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _write_parquet(ctx: Ctx, df: DataFrame) -> str:
    reshard_to_parquet(df, ctx.parquet_out)
    return f"{_parquet_rows(ctx.parquet_out)}:written"


INGEST = [
    Step("parse_stats", _parse_stats),
    Step("reshard_parquet", lambda c: parse_ppdb(read_text_lines(c.spark, c.pack_glob)), _write_parquet),
    Step("requery_parquet", _requery_parquet),
]


def _ingest_probes(ctx: Ctx, tr: Tracer) -> None:
    """Each layer of the ingest path forced on its own: the gzip scan, the
    parse over lines already persisted (so the scan is excluded), and the
    read of the parquet the pass wrote."""
    spark = ctx.spark
    with tr.span("sources.gzip_scan", "sources") as s:
        s.counts["lines"] = digest_rows(digest(read_text_lines(spark, ctx.pack_glob)))
    lines = read_text_lines(spark, ctx.pack_glob).persist()
    lines.count()
    with tr.span("operators.parse_ppdb", "operators") as p:
        digest(parse_ppdb(lines))
    p.counts["lines"] = s.counts["lines"]
    lines.unpersist(blocking=True)
    with tr.span("sources.parquet_read", "sources") as s:
        s.counts["rows"] = digest_rows(digest(spark.read.parquet(ctx.parquet_out)))


def _ingest_references(ctx: Ctx) -> dict[str, object]:
    """DuckDB over the pack's lines, read from the gzip shards with a plain
    Python loop, through the registered parse oracles with the fixed
    600-line pack swapped for these lines."""
    lines: list[str] = []
    for fn in sorted(os.listdir(ctx.inputs.pack_dir)):
        if fn.endswith(".txt.gz"):
            with gzip.open(os.path.join(ctx.inputs.pack_dir, fn), "rt", encoding="utf-8") as f:
                lines.extend(f.read().split("\n")[:-1])
    con = duckdb.connect()
    con.register("pack_lines", pa.table({"value": lines}))
    fixed = lines_values_sql()

    def oracle(name: str) -> pd.DataFrame:
        sql = REGISTRY[name].oracle
        if fixed not in sql:
            raise RuntimeError(f"{name}: oracle no longer inlines the fixed pack")
        return con.execute(sql.replace(fixed, "pack_lines")).df()

    stats = oracle("ppdb_parse_stats")[["lhs", "n_rules", "sum_score", "total_feats"]]
    top = oracle("ppdb_top_paraphrases")
    con.close()
    return {
        "parse_stats": stats,
        "reshard_parquet": f"{len(lines)}:written",
        "requery_parquet": top,
    }


# --------------------------------------------------------------------------
# corpus_dedup: the incremental near-dup ingest report over the seeded
# corpus, checked against its DuckDB oracle
# --------------------------------------------------------------------------
CORPUS = [
    Step(
        "pipeline_incremental_ingest_report",
        lambda c: REGISTRY["pipeline_incremental_ingest_report"].fn(c.spark, c.inputs.corpus_dir),
    )
]


def _corpus_probes(ctx: Ctx, tr: Tracer) -> None:
    """A forced scan of the documents table."""
    with tr.span("sources.table_scan", "sources") as s:
        s.counts["rows"] = digest_rows(digest(load_table(ctx.spark, ctx.inputs.corpus_dir, "documents")))


def _corpus_references(ctx: Ctx) -> dict[str, object]:
    con = duckdb.connect()
    path = os.path.join(ctx.inputs.corpus_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    out = {st.name: con.execute(REGISTRY[st.name].oracle).df() for st in CORPUS}
    con.close()
    return out


@dataclass(frozen=True)
class Workload:
    name: str
    steps: list[Step]
    probes: Callable[[Ctx, Tracer], None]
    references: Callable[[Ctx], dict[str, object]]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("ppdb_ingest", INGEST, _ingest_probes, _ingest_references),
        Workload("corpus_dedup", CORPUS, _corpus_probes, _corpus_references),
    )
}


def reset_program_caches(ctx: Ctx) -> None:
    """Remove what the program and earlier runs left on disk for these
    inputs: persisted indexes keyed by the corpus path, and the parquet
    the ingest steps write. Every run then starts from the same state."""
    probe = _index_dir(ctx.inputs.corpus_dir, "")  # ".../indexes/_corpus_<hash>"
    idx_root, suffix = os.path.split(probe)
    if os.path.isdir(idx_root):
        for fn in os.listdir(idx_root):
            if fn.endswith(suffix) or fn.endswith(suffix + "_meta"):
                shutil.rmtree(os.path.join(idx_root, fn), ignore_errors=True)
    shutil.rmtree(ctx.parquet_out, ignore_errors=True)
