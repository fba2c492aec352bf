"""Output checks, made outside the timed region.

KG builds are compared with the closed form of `scripts/expected_counts.py`
(DuckDB over the generated `documents`, no Spark); query results with the
`__spark_entry__` oracles through the comparison `scripts/check_contract.py`
uses.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import runpy
import sys

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY_TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")


def expected_kg(docs_dir: str) -> dict:
    """Run `scripts/expected_counts.py` in-process (the interpreter already
    holds its imports) and return its JSON."""
    script = os.path.join(ROOT, "scripts", "expected_counts.py")
    main = runpy.run_path(script, run_name="expected_counts")["main"]
    out, argv = io.StringIO(), sys.argv
    sys.argv = [script, docs_dir]
    try:
        with contextlib.redirect_stdout(out):
            main()
    finally:
        sys.argv = argv
    return json.loads(out.getvalue().strip().splitlines()[-1])


def _rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def observe_kg(warehouse: str, result) -> dict:
    """Counts read back from the tables a build wrote, plus the build's own
    row report."""
    edges = os.path.join(warehouse, "edges")
    per_pred = {
        d.split("=", 1)[1]: _rows(os.path.join(edges, d)) for d in sorted(os.listdir(edges)) if d.startswith("pred=")
    }
    node_type = ds.dataset(os.path.join(warehouse, "nodes")).to_table(columns=["node_type"])["node_type"]
    return {
        "pages_rows": _rows(os.path.join(warehouse, "pages")),
        "edges_per_pred": per_pred,
        "edges_total": sum(per_pred.values()),
        "page_nodes": pc.sum(pc.equal(node_type, "page")).as_py() or 0,
        "reported": {k: result.stage_rows.get(k) for k in ("pages", "edges")},
    }


def kg_mismatches(obs: dict, exp: dict) -> list[str]:
    want = {
        "pages_rows": exp["expected_pages_rows"],
        "edges_per_pred": exp["expected_edges_per_pred"],
        "edges_total": exp["expected_edges_total"],
        "page_nodes": exp["expected_page_nodes"],
        "reported": {"pages": exp["expected_pages_rows"], "edges": exp["expected_edges_total"]},
    }
    return [f"{k}: got {obs[k]} want {v}" for k, v in want.items() if obs[k] != v]


def query_checker(corpus_dir: str):
    """Returns check(spark, name) -> list of mismatch strings for one
    headline query, comparing it with its exact oracle or bounded check."""
    import duckdb

    import __spark_entry__ as entry
    from scripts.check_contract import _type_class, normalize

    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(corpus_dir, t)}.parquet'")
    oracles, bounds, qs = entry.oracle_sql(), entry.bounded_checks(), entry.queries()

    def check(spark, name: str) -> list[str]:
        if name not in oracles:
            res = bounds[name](spark, corpus_dir, con)
            return [] if res.pop("pass", False) else [f"{name}: bound failed {res}"]
        sdf = qs[name](spark, corpus_dir)
        srows = [tuple(r) for r in sdf.collect()]
        arrow = con.execute(oracles[name]).arrow()
        dcols = arrow.column_names
        drows = [tuple(arrow.column(c)[i].as_py() for c in dcols) for i in range(arrow.num_rows)]
        stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        issues = [
            f"{name}: type {c} spark={stypes.get(c)} duck={arrow.schema.field(c).type}"
            for c in dcols
            if c in stypes and _type_class(stypes[c]) != _type_class(str(arrow.schema.field(c).type))
        ]
        if normalize(srows, sdf.columns) != normalize(drows, dcols):
            issues.append(f"{name}: rows differ (spark {len(srows)}, oracle {len(drows)})")
        return issues

    return check
