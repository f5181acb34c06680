"""Output checks, run after the timed window of every benchmark run.

Each check returns ``(name, ok, detail)``; a failed check counts as a
failed operation in the run's ``error_rate``.

* pipeline (trickle): ``record_id`` is unique; the results
  hold exactly the distinct review ids of the valid landed pages; each
  label and confidence equals the generator's own scorer; every source
  row is flagged processed; and re-running the merge and the increment
  over everything landed inserts nothing.
* curation: each query's rows hash-match its DuckDB ``oracle_sql()``
  twin over the same generated tables.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import pandas as pd

Check = tuple[str, bool, str]


def compare_results(res: pd.DataFrame,
                    expected: dict[int, tuple[str, float]]) -> list[Check]:
    """Results table (record_id, sentiment, confidence) vs expectation."""
    out = []
    dup = int(res["record_id"].duplicated().sum())
    out.append(("record_id_unique", dup == 0, f"{dup} duplicate ids"))
    got_ids = set(res["record_id"])
    want_ids = {str(i) for i in expected}
    missing, extra = len(want_ids - got_ids), len(got_ids - want_ids)
    out.append(("results_equal_landed_ids", not missing and not extra,
                f"{missing} missing, {extra} unexpected"))
    bad = 0
    for rid, label, conf in res[["record_id", "sentiment", "confidence"]] \
            .itertuples(index=False):
        want = expected.get(int(rid))
        if want is not None and (
                label != want[0] or abs(conf - want[1]) > 1e-9):
            bad += 1
    out.append(("labels_match_independent_scorer", bad == 0,
                f"{bad} rows differ"))
    return out


def compare_source(src: pd.DataFrame, expected_ids) -> list[Check]:
    """Source table (id, processed): all flagged, ids as landed."""
    unflagged = int((src["processed"] != 1).sum())
    same = set(src["id"]) == set(expected_ids)
    return [
        ("source_all_processed", unflagged == 0, f"{unflagged} unflagged"),
        ("source_ids_as_landed", same, "" if same else "id sets differ"),
    ]


def pipeline_checks(spark, inc, json_ingest, source_path: str,
                    results_path: str, page_dirs: list[str],
                    expected: dict[int, tuple[str, float]]) -> list[Check]:
    res = spark.read.parquet(results_path).toPandas()
    src = spark.read.parquet(source_path).select("id", "processed").toPandas()
    out = compare_results(res, expected) + compare_source(src, expected)
    corpus = json_ingest.review_text_corpus(json_ingest.silver_reviews(
        json_ingest.read_bronze(spark, page_dirs)))
    again = inc.merge_results(spark, inc.score_unprocessed(corpus),
                              results_path)
    again += inc.run_increment(spark, source_path, results_path)
    out.append(("rerun_inserts_nothing", again == 0, f"{again} rows inserted"))
    return out


# -- result hashing (curation) -------------------------------------------

def _cell(v) -> str:
    """Canonical string form of one cell, as ``collect()`` and DuckDB's
    ``fetchall()`` return it."""
    if v is None:
        return "NULL"
    if isinstance(v, int):  # bool included
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        f = round(f, 6) + 0.0  # oracle-parity rounding; -0.0 -> 0.0
        # DuckDB returns some integer sums as floats
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in
                              sorted(v.items())) + "}"
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-independent hash of a result: columns by name, cells in a
    canonical string form, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        "\x1f".join(_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in canon:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def oracle_check(con, name: str, sql: str, columns: list[str],
                 rows) -> Check:
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    ok = digest(columns, rows) == digest(o_cols, o_rows)
    return (f"oracle_hash:{name}", ok,
            f"{len(rows)} rows vs oracle {len(o_rows)}")
