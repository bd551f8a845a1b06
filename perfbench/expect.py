"""Expected answers, computed without the engine.

* SAP fact states are replayed in plain Python from the parsed lines the
  generator rendered (``gen.MovementLine`` / ``gen.BillingLine``): per batch,
  aggregate or keep-last, then replace by key — the MERGE contract.
* Report and corpus query answers come from the DuckDB oracles registered
  in ``plans.catalog.ORACLES``, run over the same parquet files.

Outputs are compared with the order-insensitive value hash the repo's
correctness gate uses: columns sorted by name, floats at 6 decimals, rows
sorted, md5.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

import duckdb

CENT = Decimal("0.01")


def value_hash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    rows = []
    for row in pdf.itertuples(index=False):
        rows.append("|".join(f"{v:.6f}" if isinstance(v, float) else str(v) for v in row))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _connect(star_dir: str):
    from sap_data_pipeline_spark.sources.readers import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    return con


def oracle_hashes(star_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    """(row count, value hash) of each named catalog oracle over ``star_dir``."""
    from sap_data_pipeline_spark.plans import catalog, catalog_ext  # noqa: F401 - registers

    con = _connect(star_dir)
    out = {}
    for n in names:
        pdf = con.execute(catalog.ORACLES[n]).df()
        out[n] = (len(pdf), value_hash(pdf))
    con.close()
    return out


def oracle_frame(star_dir: str, sql: str):
    """The result of one DuckDB query over ``star_dir`` as pandas."""
    con = _connect(star_dir)
    pdf = con.execute(sql).df()
    con.close()
    return pdf


def _dsum(vals) -> Decimal | None:
    vals = [v for v in vals if v is not None]
    return sum(vals, Decimal(0)) if vals else None


def movement_batch(lines) -> dict:
    """ZMB51 batch at the (Article, Site, Date) grain: quantities and costs
    sign-inverted and summed (NULL when every line is NULL), min unit."""
    groups: dict = {}
    for m in lines:
        groups.setdefault((m.article, m.site, m.date), []).append(m)
    return {
        k: (None if (q := _dsum(x.qty for x in g)) is None else -q,
            None if (c := _dsum(x.cost for x in g)) is None else -c,
            min(x.bun for x in g))
        for k, g in groups.items()
    }


def billing_batch(files) -> dict:
    """ZRSSALE batch: ZTTG lines only, last line per (Bill_Doc, Item) in
    file-name then line order."""
    out: dict = {}
    for f in sorted(files, key=lambda f: f.name):
        for b in f.lines:
            if b.mtyp == "ZTTG":
                out[(b.doc, b.item)] = (b.article, b.date, b.qty, b.amt)
    return out


def _dec(v) -> str | None:
    return None if v is None else str(Decimal(v).quantize(CENT))


def canon_movements(pdf) -> set:
    return {
        (r.Article, r.Site, r.Date.isoformat(), _dec(r.Quantity), _dec(r.Cost), r.BUn)
        for r in pdf.itertuples(index=False)
    }


def expected_movements(state: dict) -> set:
    return {(a, s, d.isoformat(), _dec(q), _dec(c), u) for (a, s, d), (q, c, u) in state.items()}


def canon_billing(pdf) -> set:
    return {
        (r.Bill_Doc, r.Item, r.Article, r.Date.isoformat(), r.Article_Type,
         _dec(r.Quantity), _dec(r.Amt))
        for r in pdf.itertuples(index=False)
    }


def expected_billing(state: dict) -> set:
    return {(doc, item, a, d.isoformat(), "ZTTG", _dec(q), _dec(m))
            for (doc, item), (a, d, q, m) in state.items()}
