"""Traced mode: attribute a micro-batch's time to the program's layers.

For one micro-batch, each layer's public function is applied to a cached
copy of its input and timed under a ``format("noop")`` write, which
materialises every output column (and fills the cache the next layer
reads). Rows in and out are counted outside the timed spans. The layers,
named by module:

    sources    sources.decompress.explode_messages
    loaders    loaders.thrift.load_thrift
    adapters   adapters.registry.adapt
    transform  plans.transform.transform_params
    operators  plans.pipeline.enrich_raw (Iglu off) and each configured
               enrichment operator on a cached input carrying its columns
    iglu       functions.iglu.validate_sdjs
    serialize  plans.serialize.to_tsv / bad_rows_json

The full ``process()`` (runner layer) is timed by the caller afterwards,
with every cache released. Spans are kept in memory by ``Tracer`` and
written when the run ends.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enrich_spark.adapters.registry import IGLU_VENDOR, REDIRECT_VENDOR, SNOWPLOW_VENDOR, adapt
from enrich_spark.config import EnrichmentsConfig
from enrich_spark.functions.iglu import SchemaRegistry, validate_sdjs
from enrich_spark.loaders.thrift import load_thrift
from enrich_spark.operators import geo as geo_op
from enrich_spark.operators import referer as referer_op
from enrich_spark.operators import sql_enrichments as sql_ops
from enrich_spark.operators import ua as ua_op
from enrich_spark.plans.pipeline import FAILURE_ENTITY_SCHEMA, enrich_raw
from enrich_spark.plans.serialize import bad_rows_json, to_tsv
from enrich_spark.plans.transform import transform_params
from enrich_spark.sources.decompress import explode_messages


@dataclass
class Tracer:
    """In-memory span store: (name, start, end, parent, batch)."""

    origin: float = field(default_factory=time.monotonic)
    spans: list[dict] = field(default_factory=list)

    def record(self, name: str, start: float, end: float, parent: str | None,
               batch: int) -> float:
        self.spans.append({"name": name, "start": round(start - self.origin, 6),
                           "end": round(end - self.origin, 6), "parent": parent,
                           "batch": batch})
        return end - start


class _Layers:
    def __init__(self, tracer: Tracer, batch: int):
        self.tracer, self.batch = tracer, batch
        self.cached: list[DataFrame] = []

    def materialise(self, name: str, df: DataFrame, parent: str = "layers") -> tuple[DataFrame, float]:
        """Cache ``df`` and time the noop write that fills the cache."""
        df = df.persist()
        self.cached.append(df)
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return df, self.tracer.record(name, t0, time.monotonic(), parent, self.batch)

    def timed_noop(self, name: str, df: DataFrame, parent: str) -> float:
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return self.tracer.record(name, t0, time.monotonic(), parent, self.batch)

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


def _counts(df: DataFrame, **exprs) -> dict:
    row = df.agg(*[F.sum(F.when(e, 1).otherwise(0)).alias(k) for k, e in exprs.items()],
                 F.count(F.lit(1)).alias("_rows")).first()
    return {k: int(row[k] or 0) for k in row.asDict()}


def _operators(cfg: EnrichmentsConfig, spark: SparkSession) -> dict:
    """The configured enrichment operators the pipeline assembles, each as
    a function of a DataFrame that already carries the columns it reads."""
    ops = {}
    if cfg.ua_parser:
        ops["ua_parser"] = ua_op.ua_parser_context
    if cfg.user_agent_utils:
        ops["user_agent_utils"] = ua_op.user_agent_utils
    if cfg.referer_parser:
        db = referer_op.referer_db(spark)
        ops["referer_parser"] = lambda df: referer_op.referer_parser(df, cfg.referer_parser, db)
    if cfg.campaign_attribution:
        ops["campaign_attribution"] = lambda df: sql_ops.campaign_attribution(df, cfg.campaign_attribution)
    if cfg.cross_navigation:
        ops["cross_navigation"] = lambda df: sql_ops.cross_navigation(df, cfg.cross_navigation)
    if cfg.event_fingerprint:
        ops["event_fingerprint"] = lambda df: sql_ops.event_fingerprint(df, cfg.event_fingerprint)
    if cfg.ip_lookups:
        path = cfg.ip_lookups.geo_path
        ops["ip_lookups"] = lambda df: geo_op.ip_lookups(
            df, geo_op.load_geo_table(spark, path) if path else geo_op.demo_geo_table(spark))
    if cfg.anon_ip:
        ops["anon_ip"] = lambda df: sql_ops.anon_ip(df, cfg.anon_ip)
    return ops


def _registry(cfg: EnrichmentsConfig) -> SchemaRegistry:
    reg = SchemaRegistry(dict(cfg.iglu.schemas))
    for d in cfg.iglu.registry_dirs:
        reg.load_dir(d)
    return reg


def trace_batch(spark: SparkSession, batch_df: DataFrame, cfg: EnrichmentsConfig,
                tracer: Tracer, batch: int, sink_max_bytes: int,
                max_bytes_single_payload: int) -> dict:
    """Time every layer of one micro-batch; return the per-layer values."""
    L = _Layers(tracer, batch)
    m: dict[str, float] = {}
    t_all = time.monotonic()
    try:
        msgs, _ = L.materialise("input", batch_df)
        m["sources.messages"] = msgs.count()

        payloads, m["sources.debatch_s"] = L.materialise(
            "sources", explode_messages(msgs, max_bytes_single_payload=max_bytes_single_payload))
        c = _counts(payloads, err=F.col("decompress_error").isNotNull())
        m["sources.payloads"], m["sources.errors"] = c["_rows"] - c["err"], c["err"]

        # the runner folds decompression errors into loader errors
        loaded, m["loaders.decode_s"] = L.materialise("loaders", load_thrift(payloads).withColumn(
            "loader_error", F.coalesce(F.col("loader_error"), F.col("decompress_error"))))
        c = _counts(loaded, err=F.col("loader_error").isNotNull()
                    & F.col("decompress_error").isNull())
        m["loaders.payloads"] = c["_rows"] - m["sources.errors"]
        m["loaders.errors"] = c["err"]

        adapted, m["adapters.adapt_s"] = L.materialise(
            "adapters", adapt(loaded, remote_adapters=cfg.remote_adapters))
        native = F.col("api_vendor").isin(SNOWPLOW_VENDOR, REDIRECT_VENDOR, IGLU_VENDOR)
        c = _counts(adapted, err=F.col("_adapter_error").isNotNull() & F.col("loader_error").isNull(),
                    webhook=~native & F.col("_adapter_error").isNull()
                    & F.col("loader_error").isNull())
        ok_payloads = m["loaders.payloads"] - m["loaders.errors"]
        m["adapters.events_out"] = c["_rows"]
        m["adapters.fanout"] = c["_rows"] / ok_payloads if ok_payloads else 0.0
        m["adapters.webhook_events"], m["adapters.errors"] = c["webhook"], c["err"]

        transformed, m["transform.transform_s"] = L.materialise(
            "transform", transform_params(adapted, v_collector_default=cfg.v_collector_default),
            parent="operators")
        m["transform.errors"] = _counts(transformed, err=F.size("_errors") > 0)["err"]

        # the whole enrichment chain (Iglu off): transform + operators + split
        no_iglu = replace(cfg, iglu=None)
        pre_iglu, m["operators.enrich_s"] = L.materialise(
            "operators", enrich_raw(adapted, no_iglu, spark).all)

        # each operator on a cached input carrying the columns it reads,
        # net of the time to scan that input
        ops_in = sql_ops.referer_uri(sql_ops.derived_tstamp(sql_ops.page_uri(
            sql_ops.ensure_derived(sql_ops.ensure_enrich_errors(transformed)))))
        ops_in, _ = L.materialise("operators.input", ops_in, parent="operators")
        scan = L.timed_noop("operators.scan", ops_in, parent="operators")
        for name, op in _operators(cfg, spark).items():
            m[f"operators.{name}_s"] = L.timed_noop(f"operators.{name}", op(ops_in),
                                                    parent="operators") - scan

        if cfg.iglu:
            # validation runs before the pipeline attaches failure entities
            before = pre_iglu.withColumns({
                "_n_err_before": F.size("_errors"),
                "_derived": F.filter("_derived", lambda c: c.getField("schema") != FAILURE_ENTITY_SCHEMA),
            })
            validated, m["iglu.validate_s"] = L.materialise(
                "iglu", validate_sdjs(before, _registry(cfg), strict=cfg.iglu.strict))
            co_items = F.coalesce(F.size(F.from_json(
                F.get_json_object("co_json", "$.data"), "array<string>")), F.lit(0))
            row = validated.agg(
                F.sum(F.col("ue_json").isNotNull().cast("int") + F.greatest(co_items, F.lit(0))
                      + F.greatest(F.size("_derived"), F.lit(0))).alias("sdjs"),
                F.sum((F.size("_errors") > F.col("_n_err_before")).cast("int")).alias("invalid"),
            ).first()
            m["iglu.sdjs"], m["iglu.invalid"] = int(row["sdjs"] or 0), int(row["invalid"] or 0)
        else:
            m["iglu.sdjs"] = m["iglu.invalid"] = 0
            m["iglu.validate_s"] = 0.0

        res = enrich_raw(adapted, cfg, spark)
        full, _ = L.materialise("serialize.input", res.all)
        m["operators.failed_events"] = _counts(full, f=F.col("_is_failed"))["f"]
        good = full.where(~F.col("_is_bad") & ~F.col("_is_failed"))
        failed = full.where(F.col("_is_failed"))
        bad = full.where(F.col("_is_bad"))
        tsv = to_tsv(good, max_bytes=sink_max_bytes).unionByName(
            to_tsv(failed, max_bytes=sink_max_bytes))
        tsv, m["serialize.tsv_s"] = L.materialise("serialize.tsv", tsv)
        bad_json, m["serialize.bad_json_s"] = L.materialise(
            "serialize.bad_json", bad_rows_json(bad).unionByName(bad_rows_json(failed)))
        t = tsv.agg(F.sum(F.octet_length("tsv")).alias("b"),
                    F.sum(F.col("oversized").cast("int")).alias("o")).first()
        b = bad_json.agg(F.sum(F.octet_length("bad_row")).alias("b")).first()
        m["serialize.bytes_out"] = int(t["b"] or 0) + int(b["b"] or 0)
        m["serialize.oversize"] = int(t["o"] or 0)
    finally:
        L.release()
    tracer.record("layers", t_all, time.monotonic(), "batch", batch)
    return m


LAYER_SPANS = ("sources.debatch_s", "loaders.decode_s", "adapters.adapt_s",
               "operators.enrich_s", "iglu.validate_s", "serialize.tsv_s",
               "serialize.bad_json_s")
