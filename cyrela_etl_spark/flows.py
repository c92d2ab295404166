"""The wallet end-to-end flow: the reference DAG re-expressed as engine
stages over a ZoneStore.

Reference topology (dags/s3-etl-wallet-csv.py:247-248):
    sensor >> list >> copy >> delete_landing >> parse
           >> {spark feature job, delete_processing >> create_table >> load_dw}

Engine mapping: the sensor becomes either the streaming file source
(streaming/ops.read_file_stream) or, for a one-shot run, a list-and-assert
stage; object copy becomes ZoneStore.copy (a byte copy, so processing holds
the landing file unchanged); the pandas parse becomes normalize_dates; the
feature job is wallet_features; the DW load is write_jdbc (optional —
skipped when no warehouse URL is configured). The stages keep the
reference's diamond: after parse_curated, features_serving runs
concurrently with the delete_processing >> load_dw branch.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from cyrela_etl_spark.operators.wallet import normalize_dates, wallet_features
from cyrela_etl_spark.pipeline import Pipeline
from cyrela_etl_spark.sources.csv import read_wallet_csv, write_csv
from cyrela_etl_spark.sources.jdbc import write_jdbc
from cyrela_etl_spark.sources.zones import ZoneStore


def wallet_flow(
    spark: SparkSession,
    store: ZoneStore,
    key: str = "cyrela/wallet-data.csv",
    skip_first_data_row: bool = True,
    jdbc_url: str | None = None,
    jdbc_table: str = "wallet",
    retries: int = 1,
    retry_delay_s: float = 0.0,
) -> Pipeline:
    """Build the landing→processing→curated→serving wallet pipeline.

    Each stage mirrors one reference DAG task; per-stage retry mirrors the
    reference default_args (retries=1, delay configurable — the reference
    uses 300 s, dags/s3-etl-wallet-csv.py:38-39).
    """
    pipe = Pipeline()
    retry = {"retries": retries, "retry_delay_s": retry_delay_s}
    prefix = key.rsplit("/", 1)[0] + "/" if "/" in key else ""

    @pipe.stage("sense", **retry)
    def sense(ctx: dict[str, Any]):
        keys = store.list_keys("landing", prefix)
        if not keys:
            raise FileNotFoundError(f"no input under landing/{prefix}")
        return keys

    @pipe.stage("promote_processing", **retry)
    def promote_processing(ctx: dict[str, Any]):
        return store.copy("landing", "processing", key)

    @pipe.stage("delete_landing", **retry)
    def delete_landing(ctx: dict[str, Any]):
        return store.delete("landing", key)

    @pipe.stage("parse_curated", **retry)
    def parse_curated(ctx: dict[str, Any]):
        # The reference's pandas leg: re-header (header=1 row drop) + date
        # reformat dd/MM/yyyy → ISO, landing CSV → curated. Curated is
        # parquet here (columnar zone interior; CSV only at lake edges).
        raw = read_wallet_csv(
            spark, store.path("processing", key), skip_first_data_row=skip_first_data_row
        )
        curated = normalize_dates(raw)
        ctx["curated_schema"] = curated.schema
        return store.promote(curated, "curated", "cyrela/wallet", fmt="parquet")

    def read_curated(ctx: dict[str, Any]):
        # The schema parse_curated wrote: Spark then skips the job that
        # infers it from the parquet footers.
        return spark.read.schema(ctx["curated_schema"]).parquet(ctx["parse_curated"])

    @pipe.stage("delete_processing", **retry, after=("parse_curated",))
    def delete_processing(ctx: dict[str, Any]):
        return store.delete("processing", key)

    @pipe.stage("features_serving", **retry, after=("parse_curated",))
    def features_serving(ctx: dict[str, Any]):
        feats = wallet_features(read_curated(ctx))
        target = store.path("serving", "cyrela/wallet")
        write_csv(feats, target)
        return target

    if jdbc_url is not None:

        @pipe.stage("load_dw", **retry, after=("delete_processing",))
        def load_dw(ctx: dict[str, Any]):
            write_jdbc(read_curated(ctx), jdbc_url, jdbc_table)
            return jdbc_table

    return pipe
