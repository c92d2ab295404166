"""Output checks, run outside every timed region.

Query results are compared with the registry's DuckDB oracle over the same
generated parquet tables: row count, column names and dtypes, and exact
values after an order-insensitive sort. The wallet flow's serving CSV is
compared with the reference feature SQL run by DuckDB over the landing CSV.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from gen import TABLES


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Differences between a Spark result and its oracle; empty when equal."""
    if len(got) != len(want):
        return [f"rows {len(got)} != oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    problems = []
    for c in got.columns:
        g, w = str(got[c].dtype), str(want[c].dtype)
        if g != w and not (g.startswith("datetime64") and w.startswith("datetime64")):
            problems.append(f"dtype[{c}] {g} != oracle {w}")
    if problems:
        return problems
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        eq = (g[c].values == w[c].values) | (pd.isna(g[c].values) & pd.isna(w[c].values))
        if not eq.all():
            i = int(np.argmin(eq))
            problems.append(f"value[{c}] row {i}: {g[c].values[i]!r} != oracle {w[c].values[i]!r}")
    return problems


# The reference's pandas leg drops the landing file's first data row
# (header=1) and rewrites dd/MM/yyyy dates to ISO; the feature SQL is the
# reference's scalar-subquery shape (the same transliteration the registry's
# wallet_features oracle uses).
_WALLET_CURATED = """
CREATE OR REPLACE TABLE vw_wallet AS
SELECT CAST(empresa AS INT) AS empresa, marca, cliente,
       CAST(obra AS INT) AS obra, CAST(bloco AS INT) AS bloco,
       CAST(unidade AS INT) AS unidade,
       strftime(strptime(dt_venda, '%d/%m/%Y'), '%Y-%m-%d') AS dt_venda,
       strftime(strptime(dt_chaves, '%d/%m/%Y'), '%Y-%m-%d') AS dt_chaves,
       CAST(carteira_sd_gerencial AS INT) AS carteira_sd_gerencial,
       CAST(saldo_devedor AS DOUBLE) AS saldo_devedor,
       strftime(strptime(data_base, '%d/%m/%Y'), '%Y-%m-%d') AS data_base,
       CAST(dias_atraso AS INT) AS dias_atraso,
       CAST(valor_pago_atualizado AS DOUBLE) AS valor_pago_atualizado,
       CAST(valor_pago AS DOUBLE) AS valor_pago,
       CAST(vgv AS DOUBLE) AS vgv
FROM read_csv('{path}', skip=2, header=false, all_varchar=true, names=[{names}])
"""

WALLET_FEATURES_SQL = """
SELECT
  empresa, empresa / (SELECT MAX(empresa) FROM vw_wallet) AS p_empresa,
  marca,
  CASE WHEN LOWER(marca) = 'cyrela' THEN 1 WHEN LOWER(marca) = 'living' THEN 2
       WHEN LOWER(marca) = 'vivaz' THEN 3 ELSE 0 END AS p_marca,
  obra, obra / (SELECT MAX(obra) FROM vw_wallet) AS p_obra,
  bloco, bloco / (SELECT MAX(bloco) FROM vw_wallet) AS p_bloco,
  unidade, unidade / (SELECT MAX(unidade) FROM vw_wallet) AS p_unidade,
  dt_venda,
  day(CAST(dt_venda AS DATE)) / 30 AS p_dt_venda_day,
  month(CAST(dt_venda AS DATE)) / 12 AS p_dt_venda_month,
  year(CAST(dt_venda AS DATE)) / 2000 AS p_dt_venda_year,
  dt_chaves,
  day(CAST(dt_chaves AS DATE)) / 30 AS p_dt_chaves_day,
  month(CAST(dt_chaves AS DATE)) / 12 AS p_dt_chaves_month,
  year(CAST(dt_chaves AS DATE)) / 2000 AS p_dt_chaves_year,
  carteira_sd_gerencial,
  carteira_sd_gerencial / (SELECT MAX(carteira_sd_gerencial) FROM vw_wallet) AS p_carteira_sd_gerencial,
  saldo_devedor, saldo_devedor / (SELECT MAX(saldo_devedor) FROM vw_wallet) AS p_saldo_devedor,
  day(CAST(data_base AS DATE)) / 30 AS p_data_base_day,
  month(CAST(data_base AS DATE)) / 12 AS p_data_base_month,
  year(CAST(data_base AS DATE)) / 2000 AS p_data_base_year,
  dias_atraso,
  ABS(dias_atraso) / (SELECT MAX(ABS(dias_atraso)) FROM vw_wallet) AS p_dias_atraso,
  CASE WHEN dias_atraso >= -30 THEN 0 WHEN dias_atraso >= -90 THEN 1 ELSE 2 END
    AS p_dias_atraso_category,
  valor_pago_atualizado,
  valor_pago_atualizado / (SELECT MAX(valor_pago_atualizado) FROM vw_wallet) AS p_valor_pago_atualizado,
  valor_pago, valor_pago / (SELECT MAX(valor_pago) FROM vw_wallet) AS p_valor_pago,
  vgv, vgv / (SELECT MAX(vgv) FROM vw_wallet) AS p_vgv
FROM vw_wallet
"""


def _row_hash(con: duckdb.DuckDBPyConnection, relation: str, columns: list[str]) -> tuple[int, int]:
    """(rows, order-insensitive hash) of a relation over ``columns``."""
    cols = ", ".join(columns)
    rows, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols}) % 1000000007), 0) FROM {relation}"
    ).fetchone()
    return int(rows), int(h)


class WalletReference:
    """The reference feature SQL over a landing CSV, run once in DuckDB;
    ``problems`` compares one serving CSV the flow wrote against it."""

    def __init__(self, landing_csv: str, header: list[str]):
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        try:
            names = ", ".join(f"'{c}'" for c in header)
            con.execute(_WALLET_CURATED.format(path=landing_csv, names=names))
            con.execute(f"CREATE TABLE want AS {WALLET_FEATURES_SQL}")
            self.schema = [(r[0], r[1]) for r in con.execute("DESCRIBE want").fetchall()]
            self.columns = [name for name, _ in self.schema]
            self.want = _row_hash(con, "want", self.columns)
        finally:
            con.close()

    def problems(self, serving_dir: str) -> list[str]:
        """Empty when the serving CSV's row count and row hash agree with
        the reference."""
        types = ", ".join(f"'{name}': '{typ}'" for name, typ in self.schema)
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE TABLE got AS SELECT * FROM read_csv('{serving_dir}/*.csv', header=true, "
                f"columns={{{types}}})"
            )
            got = _row_hash(con, "got", self.columns)
        finally:
            con.close()
        if got != self.want:
            return [f"serving (rows, hash) {got} != reference SQL {self.want}"]
        return []
