"""The benchmark workloads, each driving the engine's public API.

A workload is set up once per run, then runs numbered ops. Each op
has three parts, and only ``op`` is timed:

- ``prepare(i)`` readies the op's inputs (lands a delivery, say);
- ``op(i)`` is what a user waits for;
- ``check(i)`` digests what the op left in its sinks and cleans up.

The digest is ``(row count, order-insensitive hash)`` per sink, read
back with pyarrow so checking adds no Spark job to the session, and
two ops that wrote the same rows in a different order or file layout
agree.
"""

from __future__ import annotations

import base64
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq

import gen

AS_OF = gen.AS_OF


def digest(path: str) -> list:
    """[rows, sum of per-row hashes mod 2**64] of the parquet data under
    ``path``, read with pyarrow (no Spark job): insensitive to row
    order, column order and how rows are spread over files. Hive-style
    ``key=value`` directories become columns."""
    df = pq.read_table(path).to_pandas()
    h = pd.util.hash_pandas_object(df[sorted(df.columns)], index=False)
    return [len(df), f"{int(h.to_numpy().sum(dtype='uint64')):016x}"]


class Workload:
    """Defaults for a workload whose inputs are fixed files: nothing to
    set up or prepare, and the same input bytes for every op."""

    input_bytes = 0

    def setup(self):
        pass

    def setup_digest(self):
        return None

    def prepare(self, i):
        pass

    def op_input_bytes(self, i):
        return self.input_bytes


class IdrRefresh(Workload):
    """The daily full refresh: build the four extract chains, run them
    through ``PipelineRunner`` (VLS merges the MMD warehouse the same
    op just wrote), and overwrite one parquet sink per chain."""

    name = "idr_refresh"
    kind = "idr"
    chains = ("mmd", "vls", "covid", "hts")

    def __init__(self, spark, inputs, work):
        self.spark = spark
        self.inputs = inputs
        self.out = os.path.join(work, "refresh")
        staging = [f"{t}.parquet" for t in (
            "mmd_staging", "vls_staging", "hts_staging", "covid_staging",
            "mfl_codes", "hub_details")]
        self.input_bytes = sum(
            gen.tree_bytes(os.path.join(inputs, s)) for s in staging)

    def op(self, i):
        from idr_data_pipelines_spark.pipelines import (
            build_covid_pipeline,
            build_hts_pipeline,
            build_mmd_pipeline,
            build_vls_pipeline,
        )
        from idr_data_pipelines_spark.plans import PipelineRunner
        from idr_data_pipelines_spark.sources import Catalog
        from idr_data_pipelines_spark.sources.parquet import read_parquet_dir
        from idr_data_pipelines_spark.sources.sinks import sink_parquet_overwrite

        spark = self.spark
        cat = Catalog(spark, root=self.inputs)
        mmd = build_mmd_pipeline(cat, as_of=AS_OF)
        vls = build_vls_pipeline(cat, as_of=AS_OF)
        covid = build_covid_pipeline(cat)
        hts = build_hts_pipeline(cat)
        mmd_path = self._path("mmd")

        def mmd_sink(df):
            sink_parquet_overwrite(df, mmd_path)
            cat.register("art_mmd", read_parquet_dir(spark, mmd_path))

        mmd.sink = mmd_sink
        for p in (vls, covid, hts):
            p.sink = (lambda path: lambda df: sink_parquet_overwrite(df, path))(
                self._path(p.name))
        PipelineRunner(retries=0).run(spark, [mmd, vls, covid, hts])

    def check(self, i):
        return (
            {c: digest(self._path(c)) for c in self.chains},
            sum(gen.tree_bytes(self._path(c)) for c in self.chains),
            {},
        )

    def _path(self, chain):
        return os.path.join(self.out, chain)


class IdrEvents(Workload):
    """Event-triggered refresh: each op is one facility's MMD delivery
    arriving as one Pub/Sub message, handled like one Cloud Function
    invocation. The delivery lands in its own inbox with its own
    checkpoint, ``drain_available_now`` drains it, and ``handle_event``
    appends the audit row and runs the MMD chain over the delivery,
    replacing that facility's SiteCode partition (dynamic overwrite)
    of a warehouse filled in setup. Facilities cycle, so the per-op
    work stays the same over a run and the warehouse never changes."""

    name = "idr_events"
    kind = "events"
    audit = "idr_event_audit"
    view = "mmd_delivery"

    def __init__(self, spark, inputs, work):
        self.spark = spark
        self.inputs = inputs
        self.work = os.path.join(work, "events")
        self.warehouse = os.path.join(self.work, "art_mmd")
        self.sites = [int(s) for s in gen.event_sites()]
        self.expected = {}
        self._audit_dir = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), self.audit)

    def _site(self, i):
        return self.sites[i % len(self.sites)]

    def _delivery(self, site):
        return os.path.join(self.inputs, "deliveries", f"site={site}")

    def _part(self, site):
        return os.path.join(self.warehouse, f"SiteCode={site}")

    def _op_dir(self, i):
        return os.path.join(self.work, f"op{i}")

    def _chain(self, cat):
        from idr_data_pipelines_spark.pipelines import build_mmd_pipeline
        from idr_data_pipelines_spark.sources.sinks import sink_parquet_overwrite

        mmd = build_mmd_pipeline(cat, as_of=AS_OF)
        mmd.sink = lambda df: sink_parquet_overwrite(
            df, self.warehouse, partition_by=["SiteCode"])
        return mmd

    def setup(self):
        """Fill the warehouse from the whole MMD extract and create the
        audit table."""
        from idr_data_pipelines_spark.plans import PipelineRunner
        from idr_data_pipelines_spark.sources import Catalog

        spark = self.spark
        shutil.rmtree(self.work, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {self.audit}")
        PipelineRunner(retries=0).run(spark, [self._chain(Catalog(spark, root=self.inputs))])
        spark.createDataFrame([("setup", None)], "payload string, event_time string") \
            .write.mode("overwrite").saveAsTable(self.audit)
        self.audit_rows = 1

    def prepare(self, i):
        d = self._op_dir(i)
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self._delivery(self._site(i)), os.path.join(d, "inbox"))

    def op(self, i):
        from idr_data_pipelines_spark.plans import PipelineRunner
        from idr_data_pipelines_spark.sources import Catalog
        from idr_data_pipelines_spark.streaming import drain_available_now, handle_event

        spark = self.spark
        d = self._op_dir(i)
        site = self._site(i)
        drain_available_now(
            spark, os.path.join(d, "inbox"), _mmd_schema(),
            os.path.join(d, "checkpoint"), self.view,
        )
        cat = Catalog(spark, root=self.inputs)
        cat.register("mmd_staging", spark.table(self.view))
        payload = base64.b64encode(
            repr({"site": site, "delivery": f"site={site}"}).encode()).decode()
        handle_event(
            spark, payload, self.audit, runner=PipelineRunner(retries=0),
            pipelines=[self._chain(cat)], event_time=AS_OF,
        )

    def check(self, i):
        """The rewritten partition must equal its setup digest (the
        warehouse is unchanged by a redelivery) and exactly one audit
        row must have been appended, so every correct op of every seed
        yields the same digest; the seed-specific content is pinned by
        ``setup_digest``."""
        site = self._site(i)
        part = self._part(site)
        got = digest(part)
        audit_n = pq.read_table(self._audit_dir).num_rows
        appended, self.audit_rows = audit_n - self.audit_rows, audit_n
        d = self._op_dir(i)
        drained = os.path.join(d, f"checkpoint__out/{self.view}")
        out_bytes = gen.tree_bytes(part) + gen.tree_bytes(drained)
        facts = {
            "streaming.drain_batches": len(os.listdir(drained)),
            "streaming.drain_rows": sum(
                pq.ParquetFile(p).metadata.num_rows for p in _files(drained, ".parquet")),
            "streaming.checkpoint_files": len(_files(os.path.join(d, "checkpoint"), "")),
        }
        shutil.rmtree(d, ignore_errors=True)
        same = got == self.expected[site]
        return ({"partition": "as_setup" if same else got,
                 "audit_appended": appended}, out_bytes, facts)

    def op_input_bytes(self, i):
        return gen.tree_bytes(self._delivery(self._site(i)))

    def setup_digest(self):
        """Digest of the warehouse as set up; the first call, made
        after set-up and before any op, records each facility
        partition's digest for ``check``."""
        if not self.expected:
            self.expected = {s: digest(self._part(s)) for s in self.sites}
        n = sum(v[0] for v in self.expected.values())
        h = sum(int(v[1], 16) for v in self.expected.values()) % 2**64
        return [n, f"{h:016x}"]


def _files(root, suffix):
    """Regular data files under ``root`` (hidden and ``_`` files, such
    as Spark's checksums and markers, excluded) ending in ``suffix``."""
    return [os.path.join(r, f) for r, _d, fs in os.walk(root) for f in fs
            if f.endswith(suffix) and not f.startswith((".", "_"))]


def _mmd_schema():
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType([StructField(c, StringType()) for c in gen.MMD_COLS])


WORKLOADS = {w.name: w for w in (IdrRefresh, IdrEvents)}
