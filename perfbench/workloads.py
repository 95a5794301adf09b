"""The benchmark workloads: which jobs each runs, on which layer.

A *job* is one output DataFrame the benchmark writes to Spark's ``noop``
sink (every column materialized).  Each job is attributed to the layer
(``greenexp_r_spark/operators/<layer>.py``) that does its work; the traced
pass runs each job under ``setJobGroup(<layer>...)`` so Spark's own
counters can be read per layer.  Why each workload exists is in NOTES.md.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Build = Callable[[SparkSession, str], DataFrame]

# 1 in VGVI_SAMPLE points is a visibility observer (registry flagship)
VGVI_SAMPLE = 10


@dataclass(frozen=True)
class Job:
    name: str          # registry query name (its oracle is oracle_sql()[name])
    layer: str
    build: Build
    n_docs: int        # rows of the ``documents`` table the job reads
    # the job split into layer calls for the traced pass (None: the job
    # is one call of ``layer``)
    split: Callable | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    item: str          # what items_per_s counts: rows of every input table
    jobs: tuple[Job, ...]

    @property
    def sizes(self) -> tuple[int, ...]:
        """Row counts of the workload's input tables, one table each."""
        return tuple(sorted({j.n_docs for j in self.jobs}))


def _registry_job(name: str, layer: str, n_docs: int) -> Job:
    def build(spark, data_dir):
        from greenexp_r_spark import registry
        from greenexp_r_spark.plans.caching import release_caches
        # the query boundary __spark_entry__.queries() applies
        release_caches()
        return registry.build_registry()[name].spark(spark, data_dir)
    return Job(name, layer, build, n_docs)


def _minhash_job(spark, data_dir):
    """The MinHash-LSH arm of ``q_dedup_neardup`` on its own, over the same
    augmented corpus (checked against that oracle's ``minhash`` rows)."""
    from greenexp_r_spark.operators import dedup
    from greenexp_r_spark.plans.caching import release_caches
    release_caches()
    docs = spark.read.parquet(f"{data_dir}/documents.parquet")
    return dedup.minhash_lsh_pairs(dedup.augmented_corpus(docs))


def _flagship_job(spark, data_dir):
    from greenexp_r_spark import registry
    from greenexp_r_spark.plans.caching import release_caches
    release_caches()
    return registry.flagship_exposure_pages(spark, data_dir)


def split_flagship(spark, data_dir, run_layer):
    """The flagship plan split at its layer boundaries.

    Mirrors ``registry.flagship_exposure_pages`` /
    ``pages_ops.exposure_over_pages``: each layer's input is materialized
    (``localCheckpoint``) before the layer runs, so a layer's counters hold
    only its own work; ``compose`` is the final joins over the
    materialized layer outputs.  Calls under the ``inputs`` label are
    benchmark bookkeeping, not a layer."""
    from greenexp_r_spark import world
    from greenexp_r_spark.operators import (availability, knn_cells,
                                            pages_ops, visibility)

    def keep(df):
        return df.localCheckpoint(eager=True)

    pts = run_layer("pages_ops", lambda: keep(
        pages_ops.geocode(pages_ops.pages_snapshot(spark, data_dir))
        .select("point_id", "url", "warc_ts", "x", "y", "n_chars")))
    av = run_layer("availability",
                   lambda: keep(availability.ndvi_zonal(pts)))
    ac = run_layer("accessibility", lambda: keep(
        knn_cells.euclidean_access_cells(pts, world.parks_df(spark))))
    obs = run_layer("inputs", lambda: keep(
        world.points_df(spark, data_dir).select("point_id", "x", "y")))
    vg = run_layer("visibility", lambda: keep(
        visibility.vgvi_points(obs, sample_mod=VGVI_SAMPLE)))

    def compose():
        out = (pts.join(av, "point_id").join(ac, "point_id")
               .select("point_id", "url", "warc_ts", "x", "y", "n_chars",
                       "mean_ndvi", "sd_ndvi", "n_cells",
                       "closest_greenspace", "greenspace_in_buffer")
               .join(vg, "point_id", "left").drop("point_id"))
        out.write.format("noop").mode("overwrite").save()
    run_layer("compose", compose)
    return {"points": run_layer("inputs", lambda: pts.count())}


PAGES_URLS = 16_000     # flagship input: availability + visibility dominate
STUDY_POINTS = 5_000    # small geo plans
CORPUS_DOCS = 60        # corpus pipeline (overhead-bound at any size that fits)

EXPOSURE_PAGES = Workload(
    name="exposure_pages", item="urls",
    jobs=(Job("flagship_exposure_pages", "compose", _flagship_job,
              PAGES_URLS, split=split_flagship),))

STUDY_CORPUS = Workload(
    name="study_corpus", item="points and documents",
    jobs=(
        _registry_job("q_accessibility_weighted", "network", STUDY_POINTS),
        _registry_job("q_greenspace_poly_pct", "overlay", STUDY_POINTS),
        _registry_job("q_crs_utm", "crs", STUDY_POINTS),
        _registry_job("q_text_profile", "textqa", CORPUS_DOCS),
        Job("dedup_minhash", "dedup", _minhash_job, CORPUS_DOCS),
        _registry_job("q_substring_dedup", "substrdup", CORPUS_DOCS),
        _registry_job("q_quality_classifier", "classify", CORPUS_DOCS),
    ))

WORKLOADS = {w.name: w for w in (EXPOSURE_PAGES, STUDY_CORPUS)}

# every layer the per-layer metrics name, in report order
LAYERS = ("pages_ops", "availability", "accessibility", "network", "overlay",
          "visibility", "crs", "dedup", "substrdup", "textqa", "classify",
          "compose")
# layers whose kernels cross the Arrow/pandas boundary
PYTHON_LAYERS = ("visibility", "overlay", "dedup", "textqa", "classify")
