"""The paper chain as the benchmark drives it, with spans around each layer.

One chain run: VCF text -> CF2 (convert) -> variant store (load, one
strain after another) -> VARIANT_TRANSCRIPT (annotate) -> PolyPhen input
(polyphen) -> VCF (export).  Every stage calls the same public functions
the ``cli.py`` tool handlers call, split into a ``construct`` span (plan
building, including any jobs the program starts while building) and an
``execute`` span (the writes).

The variant store is a list of segment directories, each holding
``variant``, ``variant_map_data`` and ``variant_sample_detail`` parquet
tables: an optional pre-built base segment plus one segment per chain
run, so every run starts from the same store without copying it.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from variant_load_pipeline_spark.plans.convert import convert_vcf_to_cf2
from variant_load_pipeline_spark.plans.export import export_vcf
from variant_load_pipeline_spark.plans.load import (
    SampleInfo,
    assign_ids,
    attach_genic_status,
    derive_variants,
    variant_tables,
    write_variant_store,
)
from variant_load_pipeline_spark.plans.polyphen import build_polyphen_input
from variant_load_pipeline_spark.plans.postprocess import annotate_variants
from variant_load_pipeline_spark.sources.cf2 import read_cf2, write_cf2
from variant_load_pipeline_spark.sources.polyphen import write_polyphen_input

from gen import MAP_KEY

STAGES = ["convert", "load", "annotate", "polyphen", "export"]


class StageFailed(Exception):
    """A stage raised; carries the stage name for failure accounting."""

    def __init__(self, stage: str, cause: BaseException):
        super().__init__(f"{stage}: {cause!r}")
        self.stage = stage


@dataclass
class Span:
    name: str
    group: str | None
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Spans:
    """In-memory span log for one chain run.  With ``traced`` every span
    runs under its own Spark job group, so each job belongs to exactly
    one span; untraced runs only take the wall-clock stamps."""

    sc: object
    run_id: str
    traced: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}#{len(self.spans)}" if self.traced else None
        idx = len(self.spans)
        self.spans.append(Span(name, group, parent, 0.0))
        self._stack.append(idx)
        if group:
            self.sc.setJobGroup(group, group)
        self.spans[idx].start = time.perf_counter()
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if group:
                if parent is not None:
                    g = self.spans[parent].group
                    self.sc.setJobGroup(g, g)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


@dataclass
class Ctx:
    """Everything one chain run needs: session, input paths, the base
    store segment (or None) and the existing VARIANT_TRANSCRIPT table."""

    spark: SparkSession
    paths: dict[str, str]
    strains: list[str]
    genders: dict[str, str]
    base_store: str | None = None
    existing_vt: str | None = None

    def sample(self, strain: str) -> SampleInfo:
        return SampleInfo(
            sample_id=100 + self.strains.index(strain),
            gender=self.genders[strain],
            map_key=MAP_KEY,
        )

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.paths[name])


def store_table(spark: SparkSession, segments: list[str], table: str) -> DataFrame | None:
    """Union of one store table over the segments that hold it."""
    dirs = [f"{s}/{table}" for s in segments if os.path.isdir(f"{s}/{table}")]
    if not dirs:
        return None
    frames = [spark.read.parquet(d) for d in dirs]
    return reduce(lambda a, b: a.unionByName(b), frames)


def store_sites(spark: SparkSession, segments: list[str]) -> DataFrame | None:
    """VARIANT joined to VARIANT_MAP_DATA: the rows the 6-key upsert,
    annotation and export read."""
    v = store_table(spark, segments, "variant")
    if v is None:
        return None
    m = store_table(spark, segments, "variant_map_data")
    return v.join(m.drop("map_key"), "rgd_id")


def run_chain(ctx: Ctx, rep_dir: str, spans: Spans) -> dict[str, str]:
    """One full chain run; returns the output paths.  Raises StageFailed."""
    spark = ctx.spark
    out = {
        "cf2": f"{rep_dir}/cf2",
        "segment": f"{rep_dir}/store",
        "vt": f"{rep_dir}/vt",
        "polyphen": f"{rep_dir}/polyphen",
        "export": f"{rep_dir}/export",
    }
    segments = [s for s in (ctx.base_store, out["segment"]) if s]

    stage = "convert"
    try:
        with spans.span("convert"):
            with spans.span("construct"):
                cf2 = convert_vcf_to_cf2(spark, ctx.paths["in.vcf"])
            with spans.span("execute"):
                write_cf2(cf2, out["cf2"], partition_by="strain")

        stage = "load"
        with spans.span("load"):
            genes = ctx.read("genes.parquet")
            for strain in ctx.strains:
                sample = ctx.sample(strain)
                with spans.span("construct"):
                    rows = read_cf2(spark, f"{out['cf2']}/strain={strain}")
                    existing = store_sites(spark, segments)
                    with spans.span("derive"):
                        v = derive_variants(rows, sample)
                    with spans.span("genic"):
                        v = attach_genic_status(v, genes)
                    with spans.span("assign_ids"):
                        v = assign_ids(v, existing)
                    tables = variant_tables(v, sample)
                    fresh = variant_tables(v.filter(F.col("id_source") == "new"), sample)
                with spans.span("execute"):
                    seg = out["segment"]
                    fresh["variant"].write.mode("append").parquet(f"{seg}/variant")
                    write_variant_store(
                        fresh["variant_map_data"], f"{seg}/variant_map_data", mode="append"
                    )
                    tables["variant_sample_detail"].write.mode("append").parquet(
                        f"{seg}/variant_sample_detail"
                    )

        stage = "annotate"
        with spans.span("annotate"):
            with spans.span("construct"):
                loaded = loaded_sites(spark, segments, out["segment"])
                vt = annotate_variants(
                    loaded,
                    genes,
                    ctx.read("transcripts.parquet"),
                    ctx.read("features.parquet"),
                    ctx.read("fasta.parquet"),
                    existing_vt=(
                        spark.read.parquet(ctx.existing_vt) if ctx.existing_vt else None
                    ),
                    map_key=MAP_KEY,
                )
            with spans.span("execute"):
                vt.write.mode("overwrite").parquet(out["vt"])

        stage = "polyphen"
        with spans.span("polyphen"):
            with spans.span("construct"):
                rows = build_polyphen_input(
                    store_table(spark, segments, "variant"),
                    store_table(spark, segments, "variant_map_data"),
                    spark.read.parquet(out["vt"]),
                    ctx.read("transcripts.parquet"),
                    ctx.read("features.parquet"),
                )
            with spans.span("execute"):
                write_polyphen_input(rows, out["polyphen"])

        stage = "export"
        with spans.span("export"):
            with spans.span("construct"):
                loaded = loaded_sites(spark, segments, out["segment"])
                rendered = export_rows(loaded)
            with spans.span("execute"):
                export_vcf(rendered, out["export"])
    except Exception as exc:  # noqa: BLE001 - a stage failure is a result
        raise StageFailed(stage, exc) from exc
    return out


def loaded_sites(spark: SparkSession, segments: list[str], segment: str) -> DataFrame:
    """The variants this run loaded (every id in its VARIANT_SAMPLE_DETAIL
    rows) with their store coordinates and deepest sample read depth."""
    detail = spark.read.parquet(f"{segment}/variant_sample_detail")
    ids = detail.groupBy("rgd_id").agg(F.max("total_depth").alias("depth"))
    return store_sites(spark, segments).join(ids, "rgd_id")


def export_rows(loaded: DataFrame) -> DataFrame:
    """Loaded variants in ``export_vcf``'s input shape."""
    return loaded.select(
        "chromosome",
        F.col("start_pos").alias("position"),
        F.col("rs_id").alias("id"),
        F.col("ref_nuc").alias("ref"),
        F.col("var_nuc").alias("alt"),
        "depth",
    )
