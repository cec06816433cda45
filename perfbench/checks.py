"""Output checks, run after the timed JVM has exited.

Every check returns a list of failure strings; an empty list means it
passed. The reference semantics of the daily report (FIXTURES.md section 2)
are evaluated in DuckDB over the same CSV files the program read.
"""
import decimal
import glob
import hashlib
import math
import os

REPORT_COLS = ["ISIN", "Date", "opening_price_eur", "closing_price_eur",
               "minimum_price_eur", "maximum_price_eur", "daily_traded_volume",
               "change_prev_closing_%"]
CHANGE = REPORT_COLS.index("change_prev_closing_%")

CSV_COLUMNS = ("{'ISIN': 'VARCHAR', 'Mnemonic': 'VARCHAR', 'Date': 'VARCHAR', "
               "'Time': 'VARCHAR', 'StartPrice': 'DOUBLE', 'EndPrice': 'DOUBLE', "
               "'MinPrice': 'DOUBLE', 'MaxPrice': 'DOUBLE', "
               "'TradedVolume': 'BIGINT'}")


def install_bround(con):
    """`bround(x, n)`: Spark's `bround`, half-even rounding of the shortest
    decimal form of x. DuckDB's `round_even` rounds the binary double
    instead, so the two part on decimal ties such as -32.675."""
    con.sql("""CREATE OR REPLACE MACRO half_even(s) AS CASE
      WHEN s - floor(s) > 0.5 THEN floor(s) + 1 WHEN s - floor(s) < 0.5 THEN floor(s)
      WHEN floor(s) % 2 = 0 THEN floor(s) ELSE floor(s) + 1 END""")
    # a value that already has n decimals is returned as is, which skips
    # the slow decimal path for most values
    con.sql("""CREATE OR REPLACE MACRO bround(x, n) AS CASE WHEN x = round(x, n) THEN x
      ELSE CAST(half_even(CAST(CAST(x AS VARCHAR) AS DECIMAL(38, 20))
                          * CAST(pow(10, n) AS DECIMAL(38, 0))) AS DOUBLE) / pow(10, n) END""")


def load_bars(con, xetra):
    """Every CSV of the layout as table `bars`, with the date of the
    directory each row was read from as `file_date`; installs `bround`.
    The columns are given, so sniffing (slow over many files) is off."""
    install_bround(con)
    src = os.path.join(xetra, "*", "*.csv").replace("'", "''")
    con.sql(f"""CREATE OR REPLACE TABLE bars AS
      SELECT *, regexp_extract(filename, '([0-9-]+)/[^/]*$', 1) AS file_date
      FROM read_csv('{src}', header = true, filename = true, auto_detect = false,
                    columns = {CSV_COLUMNS})""")


def reference_sql(dates, keep_from):
    """The report over the files of `dates` (table `bars`), keeping dates
    >= keep_from; doubles rounded with `bround` as the report specifies
    (FIXTURES.md section 2)."""
    lst = ", ".join(f"'{d}'" for d in dates)
    return f"""
WITH b AS (
  SELECT * FROM bars WHERE file_date IN ({lst})
  AND ISIN IS NOT NULL AND Mnemonic IS NOT NULL AND Date IS NOT NULL
    AND Time IS NOT NULL AND StartPrice IS NOT NULL AND EndPrice IS NOT NULL
    AND MinPrice IS NOT NULL AND MaxPrice IS NOT NULL
    AND TradedVolume IS NOT NULL
), w AS (
  SELECT ISIN, Date, MinPrice, MaxPrice, TradedVolume,
    first_value(StartPrice) OVER g AS op, last_value(StartPrice) OVER g AS cl
  FROM b
  WINDOW g AS (PARTITION BY ISIN, Date ORDER BY Time
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), daily AS (
  SELECT ISIN, Date, min(op) AS op, min(cl) AS cl, min(MinPrice) AS mn,
         max(MaxPrice) AS mx, CAST(sum(TradedVolume) AS BIGINT) AS vol
  FROM w GROUP BY ISIN, Date
), lagged AS (
  SELECT *, lag(op) OVER (PARTITION BY ISIN ORDER BY Date) AS prev FROM daily
)
SELECT ISIN, Date, bround(op, 2) AS opening_price_eur,
       bround(cl, 2) AS closing_price_eur, bround(mn, 2) AS minimum_price_eur,
       bround(mx, 2) AS maximum_price_eur, vol AS daily_traded_volume,
       CASE WHEN prev = 0 THEN NULL
            ELSE bround((op - prev) / prev * 100, 2) END AS "change_prev_closing_%"
FROM lagged WHERE Date >= '{keep_from}'
"""


def _norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, (float, decimal.Decimal)):
        if math.isnan(v):
            return (1, "nan")
        return (2, "%.9g" % (float(v) + 0.0))  # -0.0 == 0.0
    return (2, str(v))


def canon(rows):
    return sorted(tuple(_norm(x) for x in r) for r in rows)


def order_free_hash(rows):
    h = hashlib.sha256()
    for r in canon(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def _diff(name, got, exp):
    if got == exp:
        return []
    gs, es = set(got), set(exp)
    extra = [r for r in got if r not in es][:2]
    missing = [r for r in exp if r not in gs][:2]
    return [f"{name}: rows got={len(got)} exp={len(exp)} "
            f"unexpected={extra} missing={missing}"]


def _cols(drop_change=False):
    """Report columns; doubles get + 0.0 so that -0.0 and 0.0 compare equal
    under set difference."""
    out = []
    for i, c in enumerate(REPORT_COLS):
        if drop_change and i == CHANGE:
            continue
        q = '"' + c + '"'
        out.append(f"{q} + 0.0 AS {q}" if 2 <= i <= 5 or i == CHANGE else q)
    return ", ".join(out)


def _diff_sql(con, name, got, exp, drop_change=False):
    """Multiset difference of two row sources, both ways."""
    for t, src in (("got", got), ("exp", exp)):
        con.sql(f"CREATE OR REPLACE TEMP TABLE {t} AS SELECT {_cols(drop_change)} FROM ({src})")
    extra = con.sql("SELECT * FROM got EXCEPT ALL SELECT * FROM exp LIMIT 2").fetchall()
    missing = con.sql("SELECT * FROM exp EXCEPT ALL SELECT * FROM got LIMIT 2").fetchall()
    if not extra and not missing:
        return []
    n = [con.sql(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("got", "exp")]
    return [f"{name}: rows got={n[0]} exp={n[1]} unexpected={extra} missing={missing}"]


def report_sql(path):
    return f"SELECT * FROM read_parquet('{path}/**/*.parquet')"


def check_etl(con, all_dates, it):
    """Batch reports, stream output and meta file of one iteration; the
    layout must be loaded with `load_bars`."""
    fails = []
    reports = {os.path.basename(p): p
               for p in glob.glob(os.path.join(it["report_dir"], "*.parquet"))}
    con.sql(f"CREATE OR REPLACE TEMP TABLE full_report AS "
            f"{reference_sql(all_dates, all_dates[0])}")
    for run in it["batch_runs"]:
        ds = run["dates"]
        key = f"xetra_daily_report1_{run['stamp'].replace('-', '')}_230000.parquet"
        if key not in reports:
            fails.append(f"batch report {key} missing")
            continue
        got = report_sql(reports[key])
        # the job reads the day before the first new date to feed the lag
        i0 = all_dates.index(ds[0])
        read = all_dates[max(0, i0 - 1):all_dates.index(ds[-1]) + 1]
        fails += _diff_sql(con, f"batch {ds[0]}..{ds[-1]}", got, reference_sql(read, ds[0]))
        if len(ds) == 1:
            # a daily report equals the backfill's rows for that day,
            # except the lag, which only sees the previous date
            fails += _diff_sql(con, f"daily {ds[0]} vs backfill", got,
                               f"SELECT * FROM full_report WHERE Date = '{ds[0]}'",
                               drop_change=True)
        lst = ", ".join(f"'{d}'" for d in ds)
        if con.sql(f"SELECT count(*) FROM ({got}) WHERE Date NOT IN ({lst})").fetchone()[0]:
            fails.append(f"batch {ds[0]}..{ds[-1]} reprocessed other dates")
    # stream: each micro-batch sees only its own files, so its first date
    # per ISIN has no lag (the boundary documented on Report1StreamJob)
    if os.path.isdir(it["stream_out"]):
        exp = " UNION ALL ".join(f"({reference_sql(ds, ds[0])})" for ds in it["stream_runs"])
        fails += _diff_sql(con, "stream", report_sql(it["stream_out"]), exp)
    else:
        fails.append("stream: no output")
    # meta: every date committed exactly once
    meta = con.sql(f"SELECT source_date FROM read_csv('{it['meta']}', header = true, "
                   "all_varchar = true)").fetchall()
    committed = sorted(r[0] for r in meta)
    if committed != sorted(all_dates):
        dup = sorted({d for d in committed if committed.count(d) > 1})
        fails.append(f"meta: {len(committed)} rows for {len(all_dates)} dates, "
                     f"duplicated={dup[:3]} missing={sorted(set(all_dates) - set(committed))[:3]}")
    return fails


def check_mix(con, tables, mix, dump, oracles):
    """Memo-cold and memo-warm results agree; each agrees with its oracle.
    The oracles use `round_even` to stand for Spark's `bround`; it is
    replaced by the exact `bround` macro."""
    fails = []
    install_bround(con)
    for t in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    for q in mix:
        cold, warm = (os.path.join(dump, p, q) for p in ("cold", "warm"))
        if not os.path.isdir(warm):
            fails.append(f"mix {q}: no result dump")
            continue
        # the memo-cold side exists when the run warmed the mix up first
        paths = [warm] + ([cold] if os.path.isdir(os.path.join(dump, "cold")) else [])
        rels = [con.sql(f"SELECT * FROM read_parquet('{p}/*.parquet')") for p in paths]
        cols = [sorted(r.columns) for r in rels]
        rows = [r.fetchall() for r in rels]
        if len(rows) == 2 and (cols[0] != cols[1] or
                               order_free_hash(rows[0]) != order_free_hash(rows[1])):
            fails.append(f"mix {q}: cold and warm results differ")
        if q in oracles:
            try:
                exp = con.sql(oracles[q].replace("round_even(", "bround("))
            except Exception as e:  # a broken oracle is a failed check
                fails.append(f"mix {q}: oracle error {e}")
                continue
            order = sorted(range(len(rels[0].columns)), key=lambda i: rels[0].columns[i])
            eorder = sorted(range(len(exp.columns)), key=lambda i: exp.columns[i])
            if cols[0] != sorted(exp.columns):
                fails.append(f"mix {q}: columns {cols[0]} != oracle {sorted(exp.columns)}")
                continue
            got = canon([tuple(r[i] for i in order) for r in rows[0]])
            want = canon([tuple(r[i] for i in eorder) for r in exp.fetchall()])
            fails += _diff(f"mix {q} vs oracle", got, want)
    return fails
