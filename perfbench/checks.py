"""Output checks: Spark results against independent DuckDB evaluations.

Query results are compared with `SparkEntry.oracleSql` run in DuckDB over
the same generated tables; the merged FA panel is compared with the
pipeline's cleaning and join rules written out in DuckDB SQL over the raw
zips. Values are canonicalised as the repository's `tools/check.py` does;
that logic is repeated here so the benchmark judges a parent commit and a
change by the same rules even if the tool changes between them.
"""
import glob
import hashlib
import math
import os
import zipfile

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _text(col):
    """One column as canonical text, vectorised where Arrow can cast it.

    Any injective rendering works because both sides go through this same
    function: floats print their shortest round-trip form, so -0.0 and 0.0
    stay distinct, and nulls print as NULL."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    t = col.type
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_struct(t):
        return pa.array([canon(v) for v in col.to_pylist()], pa.string())
    if pa.types.is_boolean(t):
        col = pc.cast(col, pa.int8())
    elif pa.types.is_floating(t):
        col = pc.cast(col, pa.float64())
    return pc.fill_null(pc.cast(col, pa.string()), "NULL")


def rowset(table):
    """Sorted canonical rows with columns ordered by name, and the names."""
    names = sorted(table.column_names)
    if not names or table.num_rows == 0:
        return [], names
    cols = [_text(table.column(n)) for n in names]
    rows = pc.binary_join_element_wise(*cols, "|") if len(cols) > 1 else cols[0]
    return sorted(rows.to_pylist()), names


def family(t):
    s = str(t)
    if s.startswith(("int", "uint")):
        return "int"
    if s in ("float", "double", "halffloat"):
        return "float"
    return "string" if s == "large_string" else s


def _duck():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def compare(got, exp):
    """'OK ...' or a description of the first difference."""
    got_rows, got_names = rowset(got)
    exp_rows, exp_names = rowset(exp)
    if got_names != exp_names:
        return f"SCHEMA-MISMATCH spark={got_names} duck={exp_names}"
    types = {n: (family(got.schema.field(n).type), family(exp.schema.field(n).type))
             for n in got_names}
    diff = {n: t for n, t in types.items() if t[0] != t[1]}
    if diff:
        return f"TYPE-MISMATCH {diff}"
    if len(got_rows) != len(exp_rows):
        return f"ROWCOUNT-MISMATCH spark={len(got_rows)} duck={len(exp_rows)}"
    if got_rows != exp_rows:
        first = next((g, e) for g, e in zip(got_rows, exp_rows) if g != e)
        return f"HASH-MISMATCH rows={len(got_rows)} first_diff={first}"
    digest = hashlib.sha256("\n".join(got_rows).encode()).hexdigest()[:16]
    return f"OK rows={len(got_rows)} sha256={digest}"


def check_queries(table_dir, out_dir):
    """Status per query: Spark's parquet dump against the oracle SQL."""
    con = _duck()
    for path in glob.glob(os.path.join(table_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    status = {}
    with open(os.path.join(out_dir, "oracle_sql.tsv")) as f:
        for line in f:
            if not line.strip():
                continue
            name, sql = line.rstrip("\n").split("\t", 1)
            sql = (sql.replace("\\\\", "\0").replace("\\n", "\n")
                   .replace("\\t", "\t").replace("\0", "\\"))
            try:
                got = pq.read_table(os.path.join(out_dir, name))
            except Exception as e:
                status[name] = f"SPARK-READ-FAIL {e}"
                continue
            try:
                exp = con.execute(sql).fetch_arrow_table()
            except Exception as e:
                status[name] = f"ORACLE-FAIL {e}"
                continue
            status[name] = compare(got, exp)
    return status


def _long(c):
    """`Exprs.castOrNull(_, LongType)`: optional sign, up to 19 digits."""
    return (f"CASE WHEN regexp_matches({c}, '^\\s*[+-]?0*\\d{{1,19}}\\s*$') "
            f"THEN TRY_CAST(trim({c}) AS BIGINT) END")


def _double(c):
    return (f"CASE WHEN regexp_matches({c}, '^\\s*[+-]?(\\d+\\.?\\d*|\\.\\d+)\\s*$') "
            f"THEN TRY_CAST(trim({c}) AS DOUBLE) END")


def _date(c):
    """`Exprs.parseYyyymmdd`: the first 8 characters when they are digits."""
    return (f"CASE WHEN regexp_matches({c}, '^\\d{{8}}') "
            f"THEN TRY_STRPTIME(substr({c}, 1, 8), '%Y%m%d')::DATE END")


def _pad(c, n):
    return f"CASE WHEN length({c}) >= {n} THEN {c} ELSE lpad({c}, {n}, '0') END"


def _zero_null(e):
    return f"CASE WHEN ({e}) = 0 THEN NULL ELSE ({e}) END"


FA_SQL = f"""
WITH deed AS (
  SELECT {_long('PropertyID')} AS PropertyID, {_long('SaleAmt')} AS SaleAmt,
         {_date('RecordingDate')} AS RecordingDate, {_date('SaleDate')} AS SaleDate,
         substr(FATransactionID, 1, 1) AS FA1,
         CASE WHEN TransactionType IN ('1','2','3','4','5','6')
              THEN TransactionType END AS TT
  FROM raw_deed WHERE PropertyID IS NOT NULL),
ranked_deed AS (
  SELECT PropertyID, SaleAmt, year(RecordingDate)::BIGINT AS RecordingYear,
         row_number() OVER (PARTITION BY year(RecordingDate), PropertyID
           ORDER BY RecordingDate DESC NULLS LAST, SaleAmt DESC NULLS LAST,
                    SaleDate DESC NULLS LAST) AS rn
  FROM deed
  WHERE SaleAmt > 0 AND FA1 IN ('1', '6') AND TT IN ('2', '3')),
prop AS (
  SELECT {_long('PropertyID')} AS PropertyID,
         {_zero_null(_double('SitusLatitude'))} AS SitusLatitude,
         {_zero_null(_double('SitusLongitude'))} AS SitusLongitude,
         SitusFullStreetAddress, SitusCity, SitusState,
         {_pad('SitusZIP5', 5)} AS SitusZIP5, {_pad('FIPS', 5)} AS FIPS,
         {_pad('SitusCensusTract', 6)} AS SitusCensusTract,
         {_pad('SitusCensusBlock', 4)} AS SitusCensusBlock
  FROM raw_prop WHERE PropertyClassID = 'R' AND PropertyID IS NOT NULL),
tax AS (
  SELECT {_long('PropertyID')} AS PropertyID, {_long('TaxYear')} AS TaxYear,
         {_long('TaxAmt')} AS TaxAmt,
         ({_long('TaxAmt')})::DOUBLE / 100 AS TaxAmtAdjusted
  FROM raw_tax),
vh AS (
  SELECT {_long('PropertyID')} AS PropertyID,
         {_long('AssdTotalValue')} AS Assd, {_long('AssdYear')} AS AssdYear,
         {_long('MarketTotalValue')} AS Market,
         {_long('MarketValueYear')} AS MarketYear,
         {_long('ApprTotalValue')} AS Appr, {_long('ApprYear')} AS ApprYear
  FROM raw_vh),
assd AS (SELECT PropertyID, Assd, AssdYear AS Year FROM vh
         WHERE Assd IS NOT NULL AND AssdYear IS NOT NULL),
market AS (SELECT PropertyID, Market, MarketYear AS Year FROM vh
           WHERE Market IS NOT NULL AND MarketYear IS NOT NULL),
appr AS (SELECT PropertyID, Appr, ApprYear AS Year FROM vh
         WHERE Appr IS NOT NULL AND ApprYear IS NOT NULL),
ranked_vh AS (
  SELECT a.PropertyID, a.Year, a.Assd AS Value,
         m.Market AS MarketTotalValue, p.Appr AS ApprTotalValue
  FROM assd a
  LEFT JOIN market m ON a.PropertyID = m.PropertyID AND a.Year = m.Year
  LEFT JOIN appr p ON a.PropertyID = p.PropertyID AND a.Year = p.Year
  WHERE a.Assd <> 0)
SELECT r.PropertyID, r.Year, r.Value, r.MarketTotalValue, r.ApprTotalValue,
       p.SitusLatitude, p.SitusLongitude, p.SitusFullStreetAddress, p.SitusCity,
       p.SitusState, p.SitusZIP5, p.FIPS, p.SitusCensusTract, p.SitusCensusBlock,
       d.SaleAmt, t.TaxAmt, t.TaxAmtAdjusted
FROM ranked_vh r
LEFT JOIN prop p ON r.PropertyID = p.PropertyID
LEFT JOIN (SELECT * FROM ranked_deed WHERE rn = 1) d
  ON r.PropertyID = d.PropertyID AND r.Year = d.RecordingYear
LEFT JOIN tax t ON r.PropertyID = t.PropertyID AND r.Year = t.TaxYear
WHERE d.SaleAmt IS NOT NULL
"""


def check_fa(raw_dir, text_dir, merged_dir):
    """Status of the merged panel against the DuckDB evaluation."""
    os.makedirs(text_dir, exist_ok=True)
    files = {}
    for z in sorted(glob.glob(os.path.join(raw_dir, "*.txt.zip"))):
        with zipfile.ZipFile(z) as zf:
            for entry in zf.namelist():
                zf.extract(entry, text_dir)
                fam = next(f for f in ("Deed", "Prop", "TaxHist", "ValHist")
                           if os.path.basename(z).startswith(f))
                files.setdefault(fam, []).append(os.path.join(text_dir, entry))
    con = _duck()
    for fam, view in (("Deed", "raw_deed"), ("Prop", "raw_prop"),
                      ("TaxHist", "raw_tax"), ("ValHist", "raw_vh")):
        paths = ", ".join(f"'{p}'" for p in files[fam])
        con.execute(f"""CREATE VIEW {view} AS SELECT * FROM read_csv([{paths}],
            delim='|', header=true, all_varchar=true, null_padding=true,
            quote='', escape='', auto_detect=false,
            columns={_columns(files[fam][0])})""")
    try:
        got = pq.read_table(merged_dir)
    except Exception as e:
        return f"SPARK-READ-FAIL {e}"
    exp = con.execute(FA_SQL).fetch_arrow_table()
    return compare(got, exp)


def _columns(path):
    with open(path) as f:
        header = f.readline().rstrip("\n").split("|")
    return "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in header) + "}"
