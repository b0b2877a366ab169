"""Correctness checks that need an independent engine: DuckDB over the same
parquet the Spark side read or wrote. Each returns the ops with the ones
whose answer disagrees marked failed."""
import hashlib
import math

import duckdb

# eventsByDateLevel's cumulative drill columns
DRILL = {"Year": ["Year"], "Quarter": ["Year", "Quarter"], "Month": ["Year", "Quarter", "Month"],
         "Day": ["Year", "Quarter", "Month", "DayOfMonth"]}


def cell(v) -> str:
    """Render a value as perfbench.Digest does on the Spark side."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def digest(rows) -> str:
    lines = sorted("\u0001".join(cell(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def sliced_fact(st: dict) -> str:
    conds = []
    if st["date_from"] is not None:
        conds.append(f"DateKey IN (SELECT DateKey FROM dim_date WHERE FullDate >= DATE '{st['date_from']}')")
    if st["date_to"] is not None:
        conds.append(f"DateKey IN (SELECT DateKey FROM dim_date WHERE FullDate <= DATE '{st['date_to']}')")
    if st["tsunami"] is not None:
        conds.append(f"TsunamiWarning = {'true' if st['tsunami'] else 'false'}")
    if st["categories"] is not None:
        cats = ", ".join(f"'{c}'" for c in st["categories"])
        conds.append(f"MagnitudeKey IN (SELECT MagnitudeKey FROM dim_magnitude "
                     f"WHERE MagnitudeCategory IN ({cats}))")
    return "SELECT * FROM fact" + (" WHERE " + " AND ".join(conds) if conds else "")


def visual_sql(name: str, st: dict) -> str:
    f = sliced_fact(st)
    if name == "events_by_date":
        cols = ", ".join(DRILL[st["level"]])
        return (f"SELECT {cols}, count(f.EventID) AS EventCount FROM ({f}) f "
                f"JOIN dim_date USING (DateKey) GROUP BY {cols}")
    if name == "events_by_country":
        return (f"SELECT l.ExtractedCountry, count(f.EventID) FROM ({f}) f "
                f"JOIN dim_location l USING (LocationKey) GROUP BY 1")
    if name == "magnitude_map":
        return (f"SELECT l.latitude, l.longitude, m.MagnitudeCategory, sum(f.Magnitude) FROM ({f}) f "
                f"JOIN dim_location l USING (LocationKey) JOIN dim_magnitude m USING (MagnitudeKey) "
                f"GROUP BY 1, 2, 3")
    if name == "date_slicer":
        return "SELECT DISTINCT FullDate FROM dim_date"
    if name == "tsunami_slicer":
        return "SELECT DISTINCT TsunamiWarning FROM fact"
    if name == "magnitude_slicer":
        return "SELECT DISTINCT MagnitudeCategory FROM dim_magnitude"
    raise ValueError(f"no DuckDB formulation for visual {name}")


def check_dashboard(raw: dict, ops: list) -> list:
    """Grouped visuals against DuckDB over the gold parquet their day wrote."""
    by_unit = {}
    for op in ops:
        if op["key"] and op["ok"]:
            by_unit.setdefault(op["unit"], []).append(op)
    for unit, unit_ops in by_unit.items():
        con = duckdb.connect()
        gold = raw["gold_dirs"][unit]
        for view, table in [("fact", "fact_earthquake_events"), ("dim_date", "dim_date"),
                            ("dim_location", "dim_location"), ("dim_magnitude", "dim_magnitude")]:
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{gold}/{table}/*.parquet')")
        for op in unit_ops:
            state_key, name = op["key"].rsplit("#", 1)
            if op["digest"] != digest(con.execute(visual_sql(name, raw["states"][state_key])).fetchall()):
                op["ok"] = False
                op["err"] = f"{op['name']} differs from DuckDB"
        con.close()
    return ops


def norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return cell(v)


def d47_oracle(raw: dict) -> list:
    """The d47 shard summary by the registered DuckDB oracle SQL, as sorted
    rows of rendered cells in the Spark summary's column order."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{raw['corpus_dir']}/documents.parquet/*.parquet')")
    res = con.execute(raw["d47_sql"])
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    con.close()
    idx = [cols.index(c) for c in raw["d47_columns"]]
    return sorted(tuple(norm(r[i]) for i in idx) for r in rows)


def check_curation(raw: dict, ops: list) -> list:
    """Every committed table reproduces the d47 plan, as DuckDB computes it."""
    want = d47_oracle(raw)
    for op in ops:
        if not op["ok"] or op["kind"] != "curate":
            continue
        got = sorted(tuple(norm(v) for v in r) for r in raw["summaries"].get(op["unit"], []))
        if not got or got != want:
            op["ok"] = False
            op["err"] = "committed table's shard summary differs from the d47 oracle"
    return ops


def verify(raw: dict) -> list:
    ops = raw["ops"]
    kinds = {op["kind"] for op in ops}
    if "visual" in kinds:
        ops = check_dashboard(raw, ops)
    if "curate" in kinds:
        ops = check_curation(raw, ops)
    return ops
