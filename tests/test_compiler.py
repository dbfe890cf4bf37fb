"""Statement-surface tests porting the reference's golden-case shapes
(test:QweryTest.scala, test:ops/JoinTest.scala) onto a deterministic
synthetic companylist fixture (FIXTURES.md §F3)."""

import os
import random

import pandas as pd
import pytest

from qwery_spark.compiler import ScriptEngine

SECTORS = [
    "Finance", "Technology", "Health Care", "Energy", "Consumer Services",
    "Capital Goods", "Basic Industries", "Transportation", "Public Utilities",
    "Miscellaneous", "Consumer Durables", "Consumer Non-Durables", "n/a",
]


def make_companylist(n=360, seed=7) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        sale = "n/a" if rng.random() < 0.05 else f"{rng.uniform(0.1, 4500):.4f}"
        rows.append(
            {
                "Symbol": f"SYM{i:04d}",
                "Name": f"Company {i} Inc.",
                "LastSale": sale,
                "MarketCap": "n/a" if sale == "n/a" else f"{rng.uniform(1e6, 9e9):.2f}",
                "IPOyear": str(rng.choice(["n/a", "1999", "2005", "2014", "2020"])),
                "Sector": rng.choice(SECTORS),
                "Industry": rng.choice(["Software", "Banks", "Biotech", "Oil & Gas"]),
            }
        )
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("companylist"))
    df = make_companylist()
    df.to_csv(os.path.join(d, "companylist.csv"), index=False)
    # second list: 97% symbol overlap (join fixture, JoinTest.scala:57-70)
    df2 = df.sample(frac=0.97, random_state=3).copy()
    df2.to_csv(os.path.join(d, "companylist2.csv"), index=False)
    df.to_csv(os.path.join(d, "companylist.psv"), index=False, sep="|")
    return d


@pytest.fixture()
def eng(spark):
    return ScriptEngine(spark)


def test_select_where_like(eng, fixture_dir):
    df = eng.execute(
        f"SELECT Symbol, Name FROM '{fixture_dir}/companylist.csv' "
        "WITH (COLUMN HEADERS) WHERE Industry = 'Banks' AND Symbol LIKE 'SYM0%'"
    )
    pdf = df.toPandas()
    exp = make_companylist()
    exp = exp[(exp.Industry == "Banks") & exp.Symbol.str.startswith("SYM0")]
    assert len(pdf) == len(exp)


def test_top_limit_and_order_by_executes(eng, fixture_dir):
    # reference parses ORDER BY but never sorts (SURVEY §2.6); we do
    df = eng.execute(
        f"SELECT Symbol, CAST(LastSale AS DOUBLE) AS sale "
        f"FROM '{fixture_dir}/companylist.csv' WHERE LastSale <> 'n/a' "
        "ORDER BY sale DESC LIMIT 5"
    )
    vals = [r["sale"] for r in df.collect()]
    assert len(vals) == 5 and vals == sorted(vals, reverse=True)


def test_group_by_sector_counts(eng, fixture_dir):
    df = eng.execute(
        f"SELECT Sector, COUNT(*) AS n FROM '{fixture_dir}/companylist.csv' "
        "GROUP BY Sector"
    ).toPandas()
    exp = make_companylist().groupby("Sector").size()
    got = dict(zip(df.Sector, df.n))
    assert got == exp.to_dict()


def test_global_aggregates_with_na(eng, fixture_dir):
    # lenient-CAST semantics: 'n/a' -> NULL, skipped by aggregates
    # (reference coerces via Try -> None, core:ops/Expression.scala:40-44)
    df = eng.execute(
        "SELECT COUNT(*) AS n_rows, "
        "ROUND(MIN(TRY_CAST(LastSale AS DOUBLE)), 4) AS min_sale, "
        "ROUND(MAX(TRY_CAST(LastSale AS DOUBLE)), 4) AS max_sale, "
        "ROUND(AVG(TRY_CAST(LastSale AS DOUBLE)), 4) AS avg_sale "
        f"FROM '{fixture_dir}/companylist.csv'"
    ).collect()[0]
    pdf = make_companylist()
    sales = pd.to_numeric(pdf.LastSale, errors="coerce").dropna()
    assert df["n_rows"] == len(pdf)
    assert abs(df["min_sale"] - round(sales.min(), 4)) < 1e-9
    assert abs(df["max_sale"] - round(sales.max(), 4)) < 1e-9
    assert abs(df["avg_sale"] - round(sales.mean(), 4)) < 1e-6


def test_join_two_lists(eng, fixture_dir):
    # JoinTest.scala oracle shape: inner join on Symbol, 97% overlap
    df = eng.execute(
        f"SELECT A.Symbol, B.Name FROM '{fixture_dir}/companylist.csv' A "
        f"JOIN '{fixture_dir}/companylist2.csv' B ON B.Symbol = A.Symbol"
    )
    assert df.count() == len(make_companylist().sample(frac=0.97, random_state=3))


def test_describe_all_strings(eng, fixture_dir):
    # CSV without INFER SCHEMA reads everything as string
    # (QweryTest.scala:183-197 DESCRIBE output)
    df = eng.execute(f"DESCRIBE '{fixture_dir}/companylist.csv'").toPandas()
    assert set(df["type"]) == {"string"}
    assert "Symbol" in list(df["column"])


def test_delimiter_autodetect_psv(eng, fixture_dir):
    df = eng.execute(
        f"SELECT Symbol FROM '{fixture_dir}/companylist.psv' WITH (AUTO DELIMITER)"
    )
    assert df.count() == 360


def test_select_into_json_and_insert_csv(eng, fixture_dir, tmp_path):
    out_json = str(tmp_path / "out.json")
    res = eng.execute(
        f"SELECT Symbol, Sector INTO '{out_json}' "
        f"FROM '{fixture_dir}/companylist.csv' WHERE Sector = 'Finance'"
    ).collect()[0]
    exp = (make_companylist().Sector == "Finance").sum()
    assert res["ROWS_INSERTED"] == exp
    assert eng.spark.read.json(out_json).count() == exp

    out_csv = str(tmp_path / "out.csv")
    res2 = eng.execute(
        f"INSERT OVERWRITE '{out_csv}' (sym, sect) "
        f"SELECT Symbol, Sector FROM '{fixture_dir}/companylist.csv'"
    ).collect()[0]
    assert res2["ROWS_INSERTED"] == 360
    back = eng.spark.read.option("header", True).csv(out_csv)
    assert back.columns == ["sym", "sect"] and back.count() == 360


def test_insert_values(eng, tmp_path):
    out = str(tmp_path / "vals.csv")
    res = eng.execute(
        f"INSERT OVERWRITE '{out}' (Symbol, Sector) "
        "VALUES ('AAXN', 'Industrials'), ('AMZN', 'Consumer')"
    ).collect()[0]
    assert res["ROWS_INSERTED"] == 2


def test_fixed_width_roundtrip(eng, fixture_dir, tmp_path):
    out = str(tmp_path / "fw")
    eng.execute(
        f"SELECT Symbol, Sector INTO '{out}' WITH (FIXED WIDTH 'Symbol^10,Sector^24') "
        f"FROM '{fixture_dir}/companylist.csv'"
    )
    back = eng.execute(
        f"SELECT * FROM '{out}' WITH (FIXED WIDTH 'Symbol^10,Sector^24', FORMAT 'fixed_width')"
    ).toPandas()
    exp = make_companylist()
    assert sorted(back.Symbol) == sorted(exp.Symbol)
    # width-24 truncation preserved exact prefixes
    assert set(back.Sector) == {s[:24] for s in exp.Sector.unique()}


def test_declare_set_and_templating(eng, fixture_dir):
    eng.execute("DECLARE @minsale DOUBLE")
    eng.execute("SET @minsale = 100.0")
    eng.execute(f"SET @src = '{fixture_dir}/companylist.csv'")
    n = eng.execute(
        "SELECT COUNT(*) AS n FROM '{{ src }}' "
        "WHERE TRY_CAST(LastSale AS DOUBLE) > @minsale"
    ).collect()[0]["n"]
    pdf = make_companylist()
    exp = (pd.to_numeric(pdf.LastSale, errors="coerce") > 100.0).sum()
    assert n == exp


def test_set_scalar_subquery(eng, fixture_dir):
    eng.execute(
        f"SET @total = (SELECT COUNT(*) FROM '{fixture_dir}/companylist.csv')"
    )
    assert eng.variables["total"] == 360


def test_create_view_and_function(eng, fixture_dir):
    eng.execute(
        f"CREATE OR REPLACE VIEW finance AS SELECT * FROM "
        f"'{fixture_dir}/companylist.csv' WHERE Sector = 'Finance'"
    )
    eng.execute("CREATE FUNCTION dbl(x DOUBLE) RETURNS DOUBLE RETURN x * 2")
    out = eng.execute(
        "SELECT dbl(TRY_CAST(LastSale AS DOUBLE)) AS d FROM finance LIMIT 1"
    )
    assert out.columns == ["d"]
    shows = eng.execute("SHOW VARIABLES")
    assert "name" in shows.columns


def test_upsert_into_lake(eng, tmp_path):
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA

    path = str(tmp_path / "lake")
    LakeTable.create(path, TARGET_SCHEMA, n_buckets=4, write_mode="mor")
    res = eng.execute(
        f"UPSERT INTO LAKE '{path}' KEYED ON doc_id ORDINAL ord "
        "SELECT * FROM VALUES "
        "(1, 'a', array(1, 2), 2, 'web'), "
        "(2, 'a', array(3), 1, 'web'), "
        "(3, 'b', array(9, 9), 2, 'code') "
        "AS t(ord, doc_id, tokens, n_tok, source)"
    ).collect()[0]
    assert res["ROWS_UPSERTED"] == 2  # LWW winners: a@2, b@3
    tbl = LakeTable(path)
    state = tbl.read(eng.spark).orderBy("doc_id").collect()
    assert [list(r["tokens"]) for r in state] == [[3], [9, 9]]


def test_update_set_assignments(eng, tmp_path):
    """UPDATE LAKE ... SET col = expr KEYED ON k WHERE pred — the
    reference's assignment-form UPDATE (core:ops/sql/Update.scala:19-44):
    matched rows only, unassigned columns carried, WHERE respected."""
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA

    path = str(tmp_path / "lake_us")
    LakeTable.create(path, TARGET_SCHEMA, n_buckets=4)
    eng.execute(
        f"UPSERT INTO LAKE '{path}' KEYED ON doc_id ORDINAL ord "
        "SELECT * FROM VALUES "
        "(1, 'a', array(1, 2), 2, 'web'), "
        "(2, 'b', array(3), 1, 'web'), "
        "(3, 'c', array(9), 1, 'code') "
        "AS t(ord, doc_id, tokens, n_tok, source)"
    )
    res = eng.execute(
        f"UPDATE LAKE '{path}' SET source = 'books', n_tok = n_tok + 10 "
        "KEYED ON doc_id WHERE source = 'web'"
    ).collect()[0]
    assert res["ROWS_UPSERTED"] == 2 and res["ROWS_REJECTED"] == 0
    state = {r["doc_id"]: r for r in LakeTable(path).read(eng.spark).collect()}
    assert state["a"]["source"] == "books" and state["a"]["n_tok"] == 12
    assert list(state["a"]["tokens"]) == [1, 2]  # unassigned column carried
    assert state["c"]["source"] == "code" and state["c"]["n_tok"] == 1


def test_update_set_bad_cast_quarantines_row(eng, tmp_path):
    """Per-row failure tolerance (Update.scala's row loop): a value that
    doesn't cast to the column type rejects THAT row, the rest apply."""
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA

    path = str(tmp_path / "lake_uq")
    LakeTable.create(path, TARGET_SCHEMA, n_buckets=4)
    eng.execute(
        f"UPSERT INTO LAKE '{path}' KEYED ON doc_id ORDINAL ord "
        "SELECT * FROM VALUES "
        "(1, 'a', array(1), 1, 'web'), "
        "(2, 'b', array(2), 1, 'web') "
        "AS t(ord, doc_id, tokens, n_tok, source)"
    )
    res = eng.execute(
        f"UPDATE LAKE '{path}' SET "
        "n_tok = CASE WHEN doc_id = 'a' THEN 'nope' ELSE '7' END "
        "KEYED ON doc_id"
    ).collect()[0]
    assert res["ROWS_UPSERTED"] == 1 and res["ROWS_REJECTED"] == 1
    state = {r["doc_id"]: r["n_tok"] for r in LakeTable(path).read(eng.spark).collect()}
    assert state == {"a": 1, "b": 7}


def test_update_set_rejects_key_and_unknown_columns(eng, tmp_path):
    import pytest

    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA

    path = str(tmp_path / "lake_ue")
    LakeTable.create(path, TARGET_SCHEMA, n_buckets=4)
    with pytest.raises(ValueError, match="key column"):
        eng.execute(f"UPDATE LAKE '{path}' SET doc_id = 'x' KEYED ON doc_id")
    with pytest.raises(ValueError, match="unknown column"):
        eng.execute(f"UPDATE LAKE '{path}' SET nope = 1 KEYED ON doc_id")


def test_expire_and_vacuum_statements(eng, tmp_path):
    """EXPIRE SNAPSHOTS 'p' KEEP n + VACUUM LAKE 'p' — the Iceberg
    maintenance verbs surfaced as statements; expired versions become
    unreadable, live state survives, orphan files are removed."""
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA

    path = str(tmp_path / "lake_vac")
    LakeTable.create(path, TARGET_SCHEMA, n_buckets=4)
    for i in range(4):
        eng.execute(
            f"UPSERT INTO LAKE '{path}' KEYED ON doc_id ORDINAL ord "
            f"SELECT * FROM VALUES ({i}, 'd{i}', array({i}), 1, 'web') "
            "AS t(ord, doc_id, tokens, n_tok, source)"
        )
    res = eng.execute(f"EXPIRE SNAPSHOTS '{path}' KEEP 2").collect()[0]
    assert res["SNAPSHOTS_EXPIRED"] >= 1
    vac = eng.execute(f"VACUUM LAKE '{path}'").collect()[0]
    assert vac["FILES_REMOVED"] >= 0
    state = LakeTable(path).read(eng.spark).count()
    assert state == 4  # live state intact after maintenance


def test_create_lake_statement_full_lifecycle(eng, tmp_path):
    """CREATE LAKE completes the script-only lifecycle: create -> upsert
    -> evolve -> update -> maintain, no API calls anywhere."""
    path = str(tmp_path / "lake_cl")
    res = eng.execute(
        f"CREATE LAKE '{path}' (doc_id string, tokens array<int>, "
        "n_tok int, source string) KEYED ON doc_id BUCKETS 8 MODE mor"
    ).collect()[0]
    assert (res["version"], res["buckets"], res["mode"]) == (0, 8, "mor")
    eng.execute(
        f"UPSERT INTO LAKE '{path}' KEYED ON doc_id ORDINAL ord "
        "SELECT * FROM VALUES (1, 'a', array(7), 1, 'web') "
        "AS t(ord, doc_id, tokens, n_tok, source)"
    )
    eng.execute(f"ALTER LAKE '{path}' ADD COLUMN lang string")
    from qwery_spark.lake.table import LakeTable

    got = LakeTable(path).read(eng.spark).collect()
    assert len(got) == 1 and got[0]["lang"] is None

    import pytest

    with pytest.raises(ValueError, match="key column"):
        eng.execute(f"CREATE LAKE '{tmp_path}/bad' (a int) KEYED ON nope")


def test_create_lake_paren_types_and_guards(eng, tmp_path):
    from qwery_spark.lake.table import LakeTable

    path = str(tmp_path / "lake_dec")
    eng.execute(
        f"CREATE LAKE '{path}' (id string, price decimal(12,2)) KEYED ON id"
    )
    snap = LakeTable(path).snapshot()
    assert {f["name"]: f["type"] for f in snap.fields()}["price"] == "decimal(12,2)"
    assert snap.n_buckets == 16  # script default == API default

    import pytest

    with pytest.raises(ValueError, match="already exists"):
        eng.execute(f"CREATE LAKE '{path}' (id string) KEYED ON id")
    with pytest.raises(ValueError, match="n_buckets"):
        eng.execute(f"CREATE LAKE '{tmp_path}/z' (id string) KEYED ON id BUCKETS 0")


def test_drop_lake_statement(eng, tmp_path):
    import pytest

    path = str(tmp_path / "lake_drop")
    eng.execute(f"CREATE LAKE '{path}' (id string) KEYED ON id")
    res = eng.execute(f"DROP LAKE '{path}'").collect()[0]
    assert res["DROPPED"] == path
    import os

    assert not os.path.exists(path)
    # re-create after drop works (cache invalidated)
    eng.execute(f"CREATE LAKE '{path}' (id string) KEYED ON id")
    # non-table paths are refused
    plain = str(tmp_path / "plain")
    os.makedirs(plain)
    with pytest.raises(FileNotFoundError):
        eng.execute(f"DROP LAKE '{plain}'")
    assert os.path.exists(plain)


def test_create_lake_if_not_exists(eng, tmp_path):
    path = str(tmp_path / "lake_ine")
    eng.execute(
        f"CREATE LAKE IF NOT EXISTS '{path}' (id string) KEYED ON id BUCKETS 4"
    )
    # second run is a no-op returning the EXISTING table's shape
    res = eng.execute(
        f"CREATE LAKE IF NOT EXISTS '{path}' (id string, extra int) "
        "KEYED ON id BUCKETS 99 MODE mor"
    ).collect()[0]
    assert (res["buckets"], res["mode"]) == (4, "cow")


def test_drop_lake_if_exists_and_path_normalization(eng, tmp_path):
    import os

    path = str(tmp_path / "lake_ie")
    # IF EXISTS on a missing table: no-op, no error
    assert eng.execute(f"DROP LAKE IF EXISTS '{path}'").count() == 0
    eng.execute(f"CREATE LAKE '{path}' (id string) KEYED ON id")
    # read via a trailing-slash spelling populates the cache under the
    # normalized key, so the drop invalidates it regardless of spelling
    from qwery_spark.lake.table import LakeTable

    LakeTable(path + "/").snapshot()
    eng.execute(f"DROP LAKE IF EXISTS '{path}'")
    assert not os.path.exists(path)
    eng.execute(f"CREATE LAKE '{path}' (id string, v int) KEYED ON id")
    cols = {f["name"] for f in LakeTable(path + "/").snapshot().fields()}
    assert "v" in cols  # fresh schema, not the stale cached one


def test_show_changes_statement(eng, tmp_path):
    p = str(tmp_path / "lk")
    eng.execute(f"CREATE LAKE '{p}' (doc_id string, v int) KEYED ON doc_id BUCKETS 2")
    eng.execute(
        f"UPSERT INTO LAKE '{p}' KEYED ON doc_id "
        "SELECT 'a' AS doc_id, 1 AS v, 'U' AS op, 1 AS ordinal"
    )
    eng.execute(
        f"UPSERT INTO LAKE '{p}' KEYED ON doc_id "
        "SELECT 'a' AS doc_id, 2 AS v, 'U' AS op, 2 AS ordinal"
    )
    rows = eng.execute(f"SHOW CHANGES '{p}'").collect()
    assert {(r["_change_type"], r["_commit_version"], r["v"]) for r in rows} == {
        ("insert", 1, 1),
        ("update_postimage", 2, 2),
    }
    sub = eng.execute(f"SHOW CHANGES '{p}' FROM 1 TO 2").collect()
    assert [r["_change_type"] for r in sub] == ["update_postimage"]
    # COARSE: one net endpoint diff — 'a' nets to a single insert at
    # its final value; WINDOW 1 must equal the granular feed
    coarse = eng.execute(f"SHOW CHANGES '{p}' COARSE").collect()
    assert [(r["_change_type"], r["v"]) for r in coarse] == [("insert", 2)]
    w1 = eng.execute(f"SHOW CHANGES '{p}' WINDOW 1").collect()
    assert {(r["_change_type"], r["_commit_version"], r["v"])
            for r in w1} == {(r["_change_type"], r["_commit_version"], r["v"])
                             for r in rows}
    with pytest.raises(ValueError):
        eng.execute(f"SHOW CHANGES '{p}' FROM x")


def test_select_from_lake_table_path(eng, tmp_path):
    """FROM 'lake-path' must read the SNAPSHOT (live rows, LWW-resolved,
    engine columns hidden) — not the raw staged parquet, which contains
    every historical snapshot plus tombstones. WITH (VERSION n) pins."""
    p = str(tmp_path / "lk")
    eng.execute(f"CREATE LAKE '{p}' (doc_id string, v int) KEYED ON doc_id BUCKETS 2")
    eng.execute(
        f"UPSERT INTO LAKE '{p}' KEYED ON doc_id "
        "SELECT 'a' AS doc_id, 1 AS v, 'U' AS op, 1 AS ordinal"
    )
    eng.execute(
        f"UPSERT INTO LAKE '{p}' KEYED ON doc_id SELECT * FROM VALUES "
        "('a', 2, 'U', 2), ('b', 9, 'U', 3), ('gone', 0, 'D', 4) "
        "AS t(doc_id, v, op, ordinal)"
    )
    rows = eng.execute(f"SELECT doc_id, v FROM '{p}' ORDER BY doc_id").collect()
    assert [(r["doc_id"], r["v"]) for r in rows] == [("a", 2), ("b", 9)]
    assert "last_ordinal" not in eng.execute(f"SELECT * FROM '{p}'").columns
    old = eng.execute(
        f"SELECT doc_id, v FROM '{p}' WITH (VERSION 1) ORDER BY doc_id"
    ).collect()
    assert [(r["doc_id"], r["v"]) for r in old] == [("a", 1)]


def test_compact_lake_statement(eng, tmp_path):
    from qwery_spark.lake.table import LakeTable

    p = str(tmp_path / "lk")
    eng.execute(
        f"CREATE LAKE '{p}' (doc_id string, v int) KEYED ON doc_id BUCKETS 2 MODE mor"
    )
    for i, (k, val, op) in enumerate([("a", 1, "U"), ("a", 2, "U"), ("b", 3, "U"), ("b", 0, "D")]):
        eng.execute(
            f"UPSERT INTO LAKE '{p}' KEYED ON doc_id "
            f"SELECT '{k}' AS doc_id, {val} AS v, '{op}' AS op, {i + 1} AS ordinal"
        )
    assert LakeTable(p).snapshot().unresolved_buckets  # MOR deltas pending
    res = eng.execute(
        f"COMPACT LAKE '{p}' SORT BY (doc_id) DROP TOMBSTONES"
    ).collect()[0]
    assert res["compacted_buckets"] >= 1
    snap = LakeTable(p).snapshot()
    assert not snap.unresolved_buckets
    assert all("key_min" in f for f in snap.files())  # sorted rewrite stats
    rows = eng.execute(f"SELECT doc_id, v FROM '{p}'").collect()
    assert {(r["doc_id"], r["v"]) for r in rows} == {("a", 2)}
    with pytest.raises(ValueError):
        eng.execute(f"COMPACT LAKE '{p}' SORT doc_id")


def test_create_lake_codec_zstd(eng, tmp_path):
    import pyarrow.parquet as pq

    from qwery_spark.lake.table import LakeTable

    p = str(tmp_path / "lkz")
    eng.execute(
        f"CREATE LAKE '{p}' (doc_id string, v int) KEYED ON doc_id "
        "BUCKETS 2 MODE mor CODEC zstd"
    )
    eng.execute(
        f"UPSERT INTO LAKE '{p}' KEYED ON doc_id "
        "SELECT 'a' AS doc_id, 1 AS v, 'U' AS op, 1 AS ordinal"
    )
    tbl = LakeTable(p)
    assert tbl.snapshot().codec == "zstd"
    f = tbl.snapshot().files()[0]
    md = pq.ParquetFile(f"{p}/{f['path']}").metadata
    assert md.row_group(0).column(0).compression.lower() == "zstd"
    with pytest.raises(ValueError):
        eng.execute(
            f"CREATE LAKE '{tmp_path}/bad' (doc_id string) KEYED ON doc_id CODEC brotli9"
        )


def test_script_lifecycle_non_doc_id_key(eng, tmp_path):
    """KEYED ON a column that is NOT 'doc_id': upsert / UPDATE...SET /
    DELETE must key the batch by the table's key_col (regression — the
    write paths used to hard-rename the key to 'doc_id' and fail with
    UNRESOLVED_COLUMN on any other key)."""
    from qwery_spark.lake.table import LakeTable

    for mode in ("cow", "mor"):
        path = str(tmp_path / f"lake_id_{mode}")
        eng.execute(
            f"CREATE LAKE '{path}' (id string, v int) KEYED ON id "
            f"BUCKETS 4 MODE {mode}"
        )
        eng.execute(
            f"UPSERT INTO LAKE '{path}' KEYED ON id "
            "SELECT * FROM VALUES ('a', 1, 1L), ('b', 2, 2L) AS t(id, v, ordinal)"
        )
        got = {r["id"]: r["v"] for r in LakeTable(path).read(eng.spark).collect()}
        assert got == {"a": 1, "b": 2}
        # assignment-form UPDATE on the same key
        res = eng.execute(
            f"UPDATE LAKE '{path}' SET v = v + 10 KEYED ON id WHERE id = 'a'"
        ).collect()[0]
        assert res["ROWS_UPSERTED"] == 1
        # DELETE by predicate
        eng.execute(f"DELETE FROM LAKE '{path}' KEYED ON id ORDINAL 9 WHERE id = 'b'")
        got = {r["id"]: r["v"] for r in LakeTable(path).read(eng.spark).collect()}
        assert got == {"a": 11}
        # a KEYED ON that disagrees with the table is refused, not mangled
        import pytest

        with pytest.raises(ValueError, match="keyed on"):
            eng.execute(f"UPDATE LAKE '{path}' SET v = 0 KEYED ON other")


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_lake_select_skips_deleted_and_missing_keys(eng, tmp_path, mode):
    """UPDATE LAKE ... KEYED ON <select> changes live rows only: a key
    deleted earlier stays deleted (its tombstone is not a match), and a
    key the table never held is not inserted."""
    from qwery_spark.lake.table import LakeTable

    path = str(tmp_path / f"lake_{mode}")
    eng.execute(
        f"CREATE LAKE '{path}' (id string, v int) KEYED ON id BUCKETS 4 MODE {mode}"
    )
    eng.execute(
        f"UPSERT INTO LAKE '{path}' KEYED ON id "
        "SELECT * FROM VALUES ('a', 1, 1L), ('b', 2, 2L) AS t(id, v, ordinal)"
    )
    eng.execute(f"DELETE FROM LAKE '{path}' KEYED ON id ORDINAL 5 WHERE id = 'b'")
    res = eng.execute(
        f"UPDATE LAKE '{path}' KEYED ON id "
        "SELECT * FROM VALUES ('b', 99, 9L), ('zz', 7, 9L) AS t(id, v, ordinal)"
    ).collect()[0]
    got = {r["id"]: r["v"] for r in LakeTable(path).read(eng.spark).collect()}
    assert got == {"a": 1}
    assert res["ROWS_UPSERTED"] == 0


def test_vacuum_grace_syntax(eng, tmp_path):
    """VACUUM LAKE 'p' GRACE 0 reclaims immediately; bare VACUUM keeps
    the 1h grace that protects concurrent writers' staged files."""
    path = str(tmp_path / "vg")
    eng.execute(f"CREATE LAKE '{path}' (doc_id string, v int) KEYED ON doc_id MODE mor")
    eng.execute(
        f"UPSERT INTO LAKE '{path}' KEYED ON doc_id "
        "SELECT 'a' AS doc_id, 1 AS v, 1L AS ordinal"
    )
    eng.execute(
        f"UPSERT INTO LAKE '{path}' KEYED ON doc_id "
        "SELECT 'a' AS doc_id, 2 AS v, 2L AS ordinal"
    )
    eng.execute(f"COMPACT LAKE '{path}'")
    eng.execute(f"EXPIRE SNAPSHOTS '{path}' KEEP 1")
    n_default = eng.execute(f"VACUUM LAKE '{path}'").collect()[0]["FILES_REMOVED"]
    assert n_default == 0  # orphans are seconds old: grace protects them
    n0 = eng.execute(f"VACUUM LAKE '{path}' GRACE 0").collect()[0]["FILES_REMOVED"]
    assert n0 > 0


def test_replicate_statement(eng, tmp_path):
    """REPLICATE LAKE (round 6): script-surface CDC replication —
    creates the replica on first use, converges it to the source,
    EPOCH-keyed re-delivery no-ops, and a window crossing source DDL
    replays the evolution onto the replica automatically."""
    s, d = str(tmp_path / "src"), str(tmp_path / "dst")
    eng.execute(
        f"CREATE LAKE '{s}' (doc_id string, v int) KEYED ON doc_id BUCKETS 2"
    )
    eng.execute(
        f"UPSERT INTO LAKE '{s}' KEYED ON doc_id "
        "SELECT * FROM VALUES ('a', 1, 'U', 1), ('b', 2, 'U', 2) "
        "AS t(doc_id, v, op, ordinal)"
    )
    r = eng.execute(f"REPLICATE LAKE '{s}' INTO '{d}' EPOCH 'w1'").collect()[0]
    assert r["rows_upserted"] == 2 and not r["skipped"]
    # re-delivery of the same epoch no-ops
    r2 = eng.execute(f"REPLICATE LAKE '{s}' INTO '{d}' EPOCH 'w1'").collect()[0]
    assert r2["skipped"]
    from qwery_spark.lake.table import LakeTable

    v1 = LakeTable(s).current_version()
    # in-stream DDL + data, then the follow-up window
    eng.execute(f"ALTER LAKE '{s}' ADD COLUMN lang string")
    eng.execute(
        f"UPSERT INTO LAKE '{s}' KEYED ON doc_id "
        "SELECT 'c' AS doc_id, 3 AS v, 'en' AS lang, 'U' AS op, 9 AS ordinal"
    )
    eng.execute(f"REPLICATE LAKE '{s}' INTO '{d}' FROM {v1} EPOCH 'w2'")
    got = sorted(
        (r["doc_id"], r["v"], r["lang"])
        for r in eng.execute(f"SELECT * FROM '{d}'").collect()
    )
    assert got == [("a", 1, None), ("b", 2, None), ("c", 3, "en")]
    with pytest.raises(ValueError, match="bad REPLICATE"):
        eng.execute(f"REPLICATE LAKE '{s}' INTO '{d}' FROM x")


def test_show_lineage_statement(eng, spark, tmp_path):
    """SHOW LINEAGE (round 6): the per-run Statistics feed as a script
    verb — per-epoch rates from the lineage rows apply_changes writes;
    EXPECTING n populates pct_complete/eta."""
    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.datagen import make_events
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    t = str(tmp_path / "t")
    lin = str(tmp_path / "lineage")
    tbl = LakeTable.create(t, TARGET_SCHEMA, n_buckets=2)
    ev = make_events(600, seed=5).to_pandas()
    for e, sl in enumerate((slice(0, 300), slice(300, 600))):
        apply_changes(
            spark, tbl,
            spark.createDataFrame(ev.iloc[sl], schema=EVENT_SCHEMA),
            epoch_id=e, lineage_dir=lin,
        )
    rows = eng.execute(f"SHOW LINEAGE '{lin}'").collect()
    assert len(rows) == 2
    assert all(r["events_per_sec"] > 0 for r in rows)
    assert rows[-1]["rows_cumulative"] == 600
    exp = eng.execute(f"SHOW LINEAGE '{lin}' EXPECTING 600").collect()
    assert abs(exp[-1]["pct_complete"] - 100.0) < 1e-6
    with pytest.raises(ValueError, match="bad SHOW LINEAGE"):
        eng.execute(f"SHOW LINEAGE '{lin}' EXPECTING x")

    # a stats-off ingest writes rows_in=0 lineage: the stats read must
    # degrade (events_per_sec 0, rate_trend NULL), never DIVIDE_BY_ZERO
    # (latent ANSI-mode crash found by this test, fixed in
    # read_lineage_stats)
    t2 = str(tmp_path / "t2")
    lin2 = str(tmp_path / "lineage2")
    tbl2 = LakeTable.create(t2, TARGET_SCHEMA, n_buckets=2)
    apply_changes(
        spark, tbl2,
        spark.createDataFrame(ev.iloc[:300], schema=EVENT_SCHEMA),
        epoch_id=0, lineage_dir=lin2, collect_stats=False,
    )
    off = eng.execute(f"SHOW LINEAGE '{lin2}'").collect()
    assert off[0]["events_per_sec"] == 0.0
    assert off[0]["rate_trend"] is None
