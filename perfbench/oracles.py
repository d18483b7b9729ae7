"""Independent output checks.

- ``compare_rows``: a query result against its DuckDB oracle.
- ``SiteOracle``: every plot widget and every taxon subtree summary,
  recomputed in DuckDB from the generated CSVs, against the
  ``*_results.parquet`` tables a pipeline run wrote; plus the export tree.

A float matches when it agrees to 1e-9 relative, with two exceptions
where the value is rounded and two engines may round an exact tie apart
(they sum in different orders):

- a site widget value is checked against the unrounded DuckDB value
  (``Rounded``) and may be off by half a unit of its rounding;
- a query column that the oracle SQL rounds to ``dp`` decimals may
  differ by one unit in that place.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import zipfile
from dataclasses import dataclass

import duckdb


@dataclass(frozen=True)
class Rounded:
    """An expected value that the program rounds to ``dp`` decimals."""
    exact: float
    dp: int

    def matches(self, got) -> bool:
        return isinstance(got, (int, float)) and not isinstance(got, bool) \
            and abs(got - self.exact) <= 0.5 * 10.0 ** -self.dp + 1e-9 * max(
                1.0, abs(self.exact))


def floats_match(a: float, b: float, dp: int | None = None) -> bool:
    """Equal to 1e-9 relative, or, for a column rounded to ``dp``
    decimals, at most one unit apart in that place."""
    if a == b:
        return True
    if a is None or b is None or math.isnan(a) or math.isnan(b):
        return False
    if abs(a - b) <= 1e-9 * max(abs(a), abs(b)):
        return True
    return dp is not None and abs(a - b) <= 1.000001 * 10.0 ** -dp


_ROUND_AS = re.compile(
    r",\s*(\d+)\s*\)(?:\s+ELSE\s+[\d.]+\s+END)?\s+AS\s+(\w+)",
    re.IGNORECASE)


def rounded_columns(sql: str) -> dict[str, int]:
    """``{column: dp}`` for each ``round(..., dp) AS column`` of an oracle
    query (also ``CASE ... THEN round(..., dp) ELSE 0.0 END AS column``)."""
    return {col.lower(): int(dp) for dp, col in _ROUND_AS.findall(sql)}


def values_match(a, b) -> bool:
    """``b`` is the expected value; it may hold ``Rounded`` leaves."""
    if isinstance(b, Rounded):
        return b.matches(a)
    if isinstance(a, (bool, int)) and isinstance(b, (bool, int)):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return floats_match(float(a), float(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(values_match, a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(values_match(a[k], b[k])
                                            for k in a)
    return a == b


def _canon(rows, cols) -> list[tuple]:
    """Rows with columns in name order, sorted by their exact (non-float)
    values first so a float off by one rounding unit keeps its row."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())

    def key(row):
        exact = tuple(repr(row[i]) for i in order
                      if not isinstance(row[i], float))
        approx = tuple(row[i] for i in order if isinstance(row[i], float))
        return exact, approx

    return [tuple(row[i] for i in order) for row in sorted(rows, key=key)]


def compare_rows(srows, scols, orows, ocols, sql: str) -> str | None:
    """None when the Spark rows equal the rows of the oracle query ``sql``
    as a multiset."""
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
        return f"columns {sorted(scols)} != oracle {sorted(ocols)}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows != oracle {len(orows)}"
    dps = rounded_columns(sql)
    names = sorted(c.lower() for c in scols)
    for s, o in zip(_canon(srows, scols), _canon(orows, ocols)):
        for name, a, b in zip(names, s, o):
            ok = floats_match(float(a), float(b), dps.get(name)) \
                if isinstance(a, float) and isinstance(b, (int, float)) \
                else values_match(a, b)
            if not ok:
                return f"row {s} != oracle {o} (column {name})"
    return None


# ---------------------------------------------------------------------------
# site pipeline
# ---------------------------------------------------------------------------

BINS = [10.0, 20.0, 30.0, 40.0, 50.0, 100.0]
PLOT_WIDGETS = ("general_info", "dbh_summary", "dbh_distribution",
                "holdridge_distribution", "um_counter", "top_families")

# the examples/config widgets, recomputed per plot from the raw CSVs;
# bins follow np.histogram: [lo, hi) except the last, which is closed
_BIN_SQL = ", ".join(
    f"count(*) FILTER (WHERE dbh >= {lo} AND dbh "
    f"{'<=' if i == len(BINS) - 2 else '<'} {hi})"
    for i, (lo, hi) in enumerate(zip(BINS, BINS[1:])))
_PLOT_SQL = f"""
SELECT p.id_plot, p.plot, p.elevation, count(o.id), min(o.dbh), avg(o.dbh),
       max(o.dbh), {_BIN_SQL},
       count(*) FILTER (WHERE o.holdridge = 1),
       count(*) FILTER (WHERE o.holdridge = 2),
       count(*) FILTER (WHERE o.holdridge = 3),
       count(*) FILTER (WHERE o.in_um = 1),
       count(*) FILTER (WHERE o.in_um = 0)
FROM p LEFT JOIN o ON o.plot_name = p.locality
GROUP BY p.id_plot, p.plot, p.elevation
"""
_FAMILY_SQL = """
SELECT p.id_plot, o.family, count(*) FROM p JOIN o ON o.plot_name = p.locality
GROUP BY 1, 2
"""
_TAXON_SQL = """
SELECT 'family', family, min(dbh), avg(dbh), max(dbh) FROM o GROUP BY family
UNION ALL
SELECT 'genus', genus, min(dbh), avg(dbh), max(dbh) FROM o GROUP BY genus
UNION ALL
SELECT 'species', species, min(dbh), avg(dbh), max(dbh) FROM o
GROUP BY species
"""


def _summary(lo: float, mean: float, hi: float) -> dict:
    return {"min": Rounded(lo, 2), "mean": Rounded(mean, 2),
            "max": Rounded(hi, 2), "units": "",
            "max_value": Rounded(hi, 2) if hi > 100 else 100}


def _plot_widgets(row, families: dict) -> dict:
    nb = len(BINS) - 1
    _, name, elev, n, lo, mean, hi = row[:7]
    counts = list(row[7:7 + nb])
    hold = list(row[7 + nb:10 + nb])
    um, num = row[10 + nb:]
    total = sum(counts)
    return {
        "general_info": {"name": {"value": name},
                         "elevation": {"value": elev},
                         "occurrences_count": {"value": n}},
        "dbh_summary": _summary(lo, mean, hi),
        "dbh_distribution": {
            "bins": BINS, "counts": counts,
            "percentages": [Rounded(c * 100.0 / total, 2)
                            if total else 0 for c in counts]},
        "holdridge_distribution": {"categories": [1, 2, 3], "counts": hold,
                                   "labels": ["1", "2", "3"]},
        "um_counter": {"um": um, "num": num},
        "top_families": families,
    }


def _top_ok(got: dict, fam_counts: dict, k: int = 5) -> bool:
    """top_ranking: k items by count; ties at the cut may go either way."""
    tops, counts = got.get("tops"), got.get("counts")
    if not isinstance(tops, list) or len(tops) != len(counts) \
            or len(set(tops)) != len(tops):
        return False
    want = sorted(fam_counts.values(), reverse=True)[:k]
    if counts != want:
        return False
    return all(fam_counts.get(t) == c for t, c in zip(tops, counts))


class SiteOracle:
    """Expected pipeline outputs of one generated project."""

    def __init__(self, project: str):
        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            for t, f in (("o", "occurrences.csv"), ("p", "plots.csv")):
                con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_csv_auto("
                            f"'{os.path.join(project, f)}', header=true)")
            families: dict[int, dict[str, int]] = {}
            for pid, fam, c in con.execute(_FAMILY_SQL).fetchall():
                families.setdefault(pid, {})[fam] = c
            self.plots = {r[0]: _plot_widgets(r, families.get(r[0], {}))
                          for r in con.execute(_PLOT_SQL).fetchall()}
            self.taxa = {(r[0], r[1]): _summary(*r[2:])
                         for r in con.execute(_TAXON_SQL).fetchall()}
            self.n_occurrences = con.execute(
                "SELECT count(*) FROM o").fetchone()[0]
        finally:
            con.close()

    def check_transform(self, warehouse: str) -> dict[str, str | None]:
        """Per widget: None when every entity matches, else the first
        mismatch."""
        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            prow = con.execute(
                f"SELECT * FROM read_parquet('{warehouse}/"
                "plots_results.parquet/*.parquet')")
            pcols = [d[0] for d in prow.description]
            plot_rows = prow.fetchall()
            taxon_rows = con.execute(
                f"SELECT t.rank_name, t.rank_value, r.dbh_summary "
                f"FROM read_parquet('{warehouse}/taxons.parquet/*.parquet') t "
                f"LEFT JOIN read_parquet('{warehouse}/taxons_results.parquet"
                f"/*.parquet') r ON r.id = t.id").fetchall()
        finally:
            con.close()
        out: dict[str, str | None] = {}
        widgets = [c for c in pcols if c != "id_plot"]
        for w in PLOT_WIDGETS:
            if w not in widgets:
                out[f"plots.{w}"] = "missing column"
                continue
            i = pcols.index(w)
            problem = None
            if len(plot_rows) != len(self.plots):
                problem = f"{len(plot_rows)} plots != {len(self.plots)}"
            for row in plot_rows:
                if problem:
                    break
                want = self.plots.get(row[0], {}).get(w)
                got = json.loads(row[i]) if row[i] is not None else None
                ok = (_top_ok(got or {}, want) if w == "top_families"
                      else values_match(got, want))
                if not ok:
                    problem = f"plot {row[0]}: {got} != {want}"
            out[f"plots.{w}"] = problem
        problem = None
        if len(taxon_rows) != len(self.taxa):
            problem = f"{len(taxon_rows)} taxa != {len(self.taxa)}"
        for rank, value, doc in taxon_rows:
            if problem:
                break
            want = self.taxa.get((rank, value))
            got = json.loads(doc) if doc is not None else None
            if not values_match(got, want):
                problem = f"taxon {rank} {value}: {got} != {want}"
        out["taxons.dbh_summary"] = problem
        return out

    def check_export(self, manifests: dict, out_dir: str
                     ) -> dict[str, str | None]:
        """Per export target: None when its tree is complete."""
        n_plots = len(self.plots)
        out: dict[str, str | None] = {}
        site = manifests.get("site") or {}
        details = glob.glob(os.path.join(out_dir, "plots", "detail", "*.json"))
        out["site"] = None if site.get("entities") == n_plots == len(
            details) else (f"site: manifest {site.get('entities')}, "
                           f"{len(details)} files, {n_plots} plots")
        html = manifests.get("site_html") or {}
        pages = glob.glob(os.path.join(out_dir, "plots_html", "detail",
                                       "*.html"))
        out["site_html"] = None if html.get("entities") == n_plots == len(
            pages) else (f"site_html: manifest {html.get('entities')}, "
                         f"{len(pages)} pages, {n_plots} plots")
        path = (manifests.get("dwca") or {}).get("path") or ""
        try:
            with zipfile.ZipFile(path) as z, z.open("occurrence.txt") as f:
                rows = sum(1 for _ in f) - 1
        except (OSError, KeyError, zipfile.BadZipFile) as e:
            out["dwca"] = f"dwca: {e}"
        else:
            out["dwca"] = None if rows == self.n_occurrences else (
                f"dwca: {rows} rows != {self.n_occurrences} occurrences")
        return out
