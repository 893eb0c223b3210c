"""SQL DML front door (sql_dml.py): MERGE/UPDATE/DELETE statements
through ZeroEtlEngine.sql route onto the snapshot-committing verbs
with the Python API's exact semantics — plus loud refusals for shapes
outside the routed grammar."""

import pytest

from dynamodb_zero_etl_s3tables_spark import sql_dml
from dynamodb_zero_etl_s3tables_spark.engine import ZeroEtlEngine
from dynamodb_zero_etl_s3tables_spark.spec import SourceSpec, TableSpec


def _engine(spark, warehouse, name="dml", partitioned=False):
    eng = ZeroEtlEngine(
        spark,
        warehouse,
        SourceSpec(table_name="src-ddb", key_columns=("pk",), pitr_enabled=True),
        TableSpec(
            namespace="ns",
            name=name,
            key_columns=("pk",),
            partition_columns=("status",) if partitioned else (),
        ),
    )
    eng.bootstrap(
        spark.createDataFrame(
            [(1, "A", 10.0), (2, "A", 150.0), (3, "B", 20.0), (4, "B", 250.0)],
            "pk long, status string, price double",
        )
    )
    return eng


def test_is_dml_and_select_passthrough(spark, warehouse):
    eng = _engine(spark, warehouse, "sel")
    assert sql_dml.is_dml("  DELETE FROM t WHERE a = 1")
    assert sql_dml.is_dml("merge into t using s on 1=1 when matched then delete")
    assert not sql_dml.is_dml("SELECT * FROM ns_sel")
    # SELECT still rides the refreshed view
    assert eng.sql("SELECT COUNT(*) AS n FROM ns_sel").first().n == 4


def test_delete_statement_routes_and_commits(spark, warehouse):
    eng = _engine(spark, warehouse, "del")
    res = eng.sql("DELETE FROM ns.del WHERE status = 'A' AND price < 100.0")
    assert res.first().operation == "delete"
    assert sorted(r.pk for r in eng.read().collect()) == [2, 3, 4]
    # the pre-delete snapshot still time-travels
    assert eng.read(version=1).count() == 4


def test_update_statement_routes_and_commits(spark, warehouse):
    eng = _engine(spark, warehouse, "upd")
    eng.sql("UPDATE ns.upd SET price = price * 2 WHERE status = 'B'")
    got = {r.pk: r.price for r in eng.read().collect()}
    assert got == {1: 10.0, 2: 150.0, 3: 40.0, 4: 500.0}


def test_merge_statement_full_clause_set(spark, warehouse):
    eng = _engine(spark, warehouse, "mrg")
    eng.spark.createDataFrame(
        [(2, "Z", 999.0), (3, "Z", 33.0), (9, "N", 90.0)],
        "pk long, status string, price double",
    ).createOrReplaceTempView("mrg_src")
    eng.sql(
        """
        MERGE INTO ns.mrg AS tgt USING mrg_src AS src
        ON tgt.pk = src.pk
        WHEN MATCHED AND src.price > 500.0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET price = src.price, status = src.status
        WHEN NOT MATCHED THEN INSERT (pk, status, price)
            VALUES (src.pk, src.status, src.price)
        """
    )
    got = {r.pk: (r.status, r.price) for r in eng.read().collect()}
    assert got == {
        1: ("A", 10.0),     # untouched
        3: ("Z", 33.0),     # matched update
        4: ("B", 250.0),    # untouched
        9: ("N", 90.0),     # not-matched insert
    }  # pk=2 deleted by the first matched clause


def test_merge_subquery_source_and_insert_star(spark, warehouse):
    eng = _engine(spark, warehouse, "mrg2")
    eng.sql(
        """
        MERGE INTO ns.mrg2 t
        USING (SELECT 7 AS pk, 'S' AS status, ROUND(1.5, 1) * 10 AS price) s
        ON t.pk = s.pk
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert eng.read().filter("pk = 7").first().price == 15.0


def test_dml_refusals_are_loud(spark, warehouse):
    eng = _engine(spark, warehouse, "bad")
    with pytest.raises(ValueError, match="unknown table"):
        eng.sql("DELETE FROM other_table WHERE pk = 1")
    # WHERE subqueries route through Catalyst now (r10) — an unknown
    # subquery table surfaces as Spark's own analysis error, loudly
    with pytest.raises(Exception, match="somewhere"):
        eng.sql(
            "DELETE FROM ns.bad WHERE pk IN (SELECT pk FROM somewhere)"
        )
    # the narrowed refusal: scalar subqueries in UPDATE SET
    with pytest.raises(ValueError, match="SET"):
        eng.sql(
            "UPDATE ns.bad SET price = (SELECT MAX(pk) FROM ns_bad) "
            "WHERE pk = 1"
        )
    with pytest.raises(ValueError, match="unparseable predicate"):
        eng.sql("DELETE FROM ns.bad WHERE price ===== 2")
    with pytest.raises(ValueError, match="unroutable DELETE"):
        eng.sql("DELETE FROM ns.bad")  # bare truncate: not routed
    with pytest.raises(ValueError, match="past version"):
        eng.sql("DELETE FROM ns.bad WHERE pk = 1", version=1)
    with pytest.raises(ValueError, match="equi-conjunction"):
        eng.sql(
            "MERGE INTO ns.bad t USING ns_bad s ON t.pk >= s.pk "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="share the alias"):
        eng.sql(
            "MERGE INTO ns.bad x USING ns_bad x ON x.pk = x.pk "
            "WHEN MATCHED THEN DELETE"
        )
    # nothing committed by any refusal
    assert eng.read().count() == 4 and eng.table.version == 1


def test_residual_predicates_route(spark, warehouse):
    """OR / IN / BETWEEN / expressions ride the residual fallback
    (VERDICT r6 #3): full-scan when nothing is prunable, and a
    mixed AND keeps the triple-based partition carry."""
    import json

    eng = _engine(spark, warehouse, "resid")
    eng.sql("DELETE FROM ns.resid WHERE pk = 1 OR pk = 2")
    assert sorted(r.pk for r in eng.read().collect()) == [3, 4]
    eng.sql("UPDATE ns.resid SET price = 0.0 WHERE pk IN (3, 4)")
    assert {r.price for r in eng.read().collect()} == {0.0}
    eng.sql("DELETE FROM ns.resid WHERE price + 1 > 0.5")
    assert eng.read().count() == 0

    part = _engine(spark, warehouse, "resid2", partitioned=True)
    res = part.sql(
        "DELETE FROM ns.resid2 WHERE status = 'A' AND pk BETWEEN 0 AND 1"
    ).first()
    info = json.loads(res.info)
    # the prunable status triple still carries partition B untouched
    assert info["partitions_rewritten"] == 1
    assert info["partitions_carried"] == 1
    assert sorted(r.pk for r in part.read().collect()) == [2, 3, 4]


def test_predicate_splitter_word_boundaries():
    """Identifiers ending in and/or (brand, major, operand, vendor)
    must not be split mid-name (ADVICE r6 #1)."""
    filters, residual = sql_dml._parse_predicate("brand = 'X' AND major = 1")
    assert filters == [("brand", "=", "X"), ("major", "=", 1)]
    assert residual is None
    filters, residual = sql_dml._parse_predicate("operand <= 3")
    assert filters == [("operand", "<=", 3)]
    # col-to-col comparison: not prunable, carried as residual
    filters, residual = sql_dml._parse_predicate("a = 1 AND b = c")
    assert filters == [("a", "=", 1)]
    assert residual == "(b = c)"


def test_merge_alias_literally_t_binds_target(spark, warehouse):
    """A source aliased 't' must not capture folded target refs
    (ADVICE r6 #2): single-pass alias rewrite."""
    eng = _engine(spark, warehouse, "alias")
    eng.spark.createDataFrame(
        [(1, "S", 500.0)], "pk long, status string, price double"
    ).createOrReplaceTempView("alias_src")
    eng.sql(
        """
        MERGE INTO ns.alias AS a USING alias_src AS t
        ON a.pk = t.pk
        WHEN MATCHED AND a.price < t.price THEN UPDATE SET price = a.price + t.price
        """
    )
    got = {r.pk: r.price for r in eng.read().collect()}
    # a.price(10) < t.price(500) -> updated to 10 + 500; sequential
    # folding would have compared source-to-source (500 < 500: no-op)
    assert got[1] == 510.0


def test_insert_unknown_column_refused(spark, warehouse):
    """A misspelled INSERT column must raise, not silently drop
    (ADVICE r6 #3)."""
    eng = _engine(spark, warehouse, "ins4")
    with pytest.raises(ValueError, match="not columns of the target"):
        eng.sql(
            "INSERT INTO ns.ins4 (pk, statas, price) VALUES (9, 'N', 1.0)"
        )
    assert eng.read().count() == 4  # nothing committed


def test_delete_statement_keeps_partition_pruning(spark, warehouse):
    eng = _engine(spark, warehouse, "prune", partitioned=True)
    import json

    res = eng.sql("DELETE FROM ns.prune WHERE status = 'A'").first()
    info = json.loads(res.info)
    assert info["partitions_rewritten"] == 1
    assert info["partitions_carried"] == 1


def test_insert_values_statement(spark, warehouse):
    eng = _engine(spark, warehouse, "ins")
    res = eng.sql(
        "INSERT INTO ns.ins VALUES (9, 'N', 90.0), (2, 'R', 999.0)"
    )
    assert res.first().operation == "insert"
    got = {r.pk: (r.status, r.price) for r in eng.read().collect()}
    assert got[9] == ("N", 90.0)        # new key inserted
    assert got[2] == ("R", 999.0)       # existing key replaced (PutItem)
    assert len(got) == 5


def test_insert_column_list_and_select(spark, warehouse):
    eng = _engine(spark, warehouse, "ins2")
    eng.sql("INSERT INTO ns.ins2 (pk, price, status) VALUES (10, 1.5, 'Z')")
    assert {r.pk: r.status for r in eng.read().collect()}[10] == "Z"
    eng.spark.createDataFrame(
        [(11, "Q", 7.0)], "pk long, status string, price double"
    ).createOrReplaceTempView("ins2_src")
    eng.sql("INSERT INTO ns.ins2 SELECT pk, status, price FROM ins2_src")
    assert eng.read().filter("pk = 11").first().status == "Q"


def test_insert_refusals(spark, warehouse):
    eng = _engine(spark, warehouse, "ins3")
    with pytest.raises(ValueError, match="key columns"):
        eng.sql("INSERT INTO ns.ins3 (status, price) VALUES ('A', 1.0)")
    with pytest.raises(ValueError, match="arity"):
        eng.sql("INSERT INTO ns.ins3 SELECT 1, 'a'")


# -- DDL / utility routing (r7) ----------------------------------------------

def test_utility_router_refusals(spark, warehouse):
    import pytest

    from dynamodb_zero_etl_s3tables_spark import sql_dml

    engine = _engine(spark, warehouse, name="util")
    assert sql_dml.is_utility("ALTER TABLE t ADD COLUMNS (x int)")
    assert sql_dml.is_utility("vacuum t")
    assert not sql_dml.is_utility("SELECT 1")
    # outside the grammar: loud refusal naming the supported shapes
    with pytest.raises(ValueError, match="ALTER TABLE t ADD COLUMNS"):
        sql_dml.route_utility(engine, "ALTER TABLE t SET TBLPROPERTIES (a=1)")
    # wrong target table
    with pytest.raises(ValueError, match="unknown table"):
        sql_dml.route_utility(engine, "VACUUM someone_elses_table")


def test_add_columns_metadata_only_and_resurrect_guard(spark, warehouse):
    import pytest

    from dynamodb_zero_etl_s3tables_spark.table.manifest import (
        SchemaEvolutionError,
    )

    t = _engine(spark, warehouse, name="addcols").table
    v0 = t.version
    t.add_columns({"flag": "boolean", "score": "double"})
    assert t.version == v0 + 1
    out = t.read()
    assert dict(out.dtypes)["score"] == "double"
    assert out.filter("flag IS NOT NULL OR score IS NOT NULL").count() == 0
    # metadata-only: the add commit references the SAME data dir
    hist = t.history()
    assert hist[-1].data_dir == hist[-2].data_dir
    # refusals: existing name, bad type
    with pytest.raises(SchemaEvolutionError, match="already exists"):
        t.add_columns({"flag": "string"})
    with pytest.raises(ValueError, match="bad type"):
        t.add_columns({"x": "not_a_type"})
    # drop then re-add: refused until a rewrite clears the files
    t.drop_column("flag")
    with pytest.raises(SchemaEvolutionError, match="compact"):
        t.add_columns({"flag": "boolean"})
    t.compact()
    t.add_columns({"flag": "boolean"})  # legal now
    assert t.read().filter("flag IS NOT NULL").count() == 0


def test_sql_ddl_on_partitioned_table(spark, warehouse):
    """r9: the ALTER verbs work on PARTITIONED tables through the SQL
    door (per-entry rename mappings) — rename resolves in reads and
    SELECTs, a post-rename SQL UPDATE mixes fresh new-named entries
    with carried old-named ones, and DROP + re-ADD keeps the resurrect
    guard armed."""
    import pytest

    from dynamodb_zero_etl_s3tables_spark import sql_dml
    from dynamodb_zero_etl_s3tables_spark.table.manifest import (
        SchemaEvolutionError,
    )

    eng = _engine(spark, warehouse, name="pddl", partitioned=True)
    sql_dml.route_utility(
        eng, "ALTER TABLE ns.pddl RENAME COLUMN price TO amount"
    )
    assert eng.sql(
        "SELECT SUM(CAST(amount AS DECIMAL(12,2))) AS s FROM ns_pddl"
    ).first().s == 430.0
    # rewrite one partition under the new name; the other carries
    eng.sql("UPDATE ns.pddl SET amount = amount + 1 WHERE status = 'A'")
    got = {r.pk: r.amount for r in eng.read().collect()}
    assert got == {1: 11.0, 2: 151.0, 3: 20.0, 4: 250.0}
    sql_dml.route_utility(eng, "ALTER TABLE ns.pddl DROP COLUMN amount")
    assert "amount" not in eng.read().columns
    with pytest.raises(SchemaEvolutionError, match="resurrect"):
        sql_dml.route_utility(
            eng, "ALTER TABLE ns.pddl ADD COLUMNS (amount double)"
        )


def test_review_r7_regressions(spark, warehouse):
    """Pins the r7 code-review findings: DESCRIBE passthrough, angle-
    bracket column types, duplicate-name refusal, quoted '(select'
    residuals, and the MERGE bad-action loud error."""
    import pytest

    from dynamodb_zero_etl_s3tables_spark import sql_dml

    engine = _engine(spark, warehouse, name="rev7")
    # plain DESCRIBE is NOT intercepted — it keeps flowing to Spark SQL
    assert not sql_dml.is_utility("DESCRIBE ns_rev7")
    assert not sql_dml.is_utility("DESCRIBE EXTENDED ns_rev7")
    assert engine.sql("DESCRIBE ns_rev7").count() >= 3
    # angle-bracket types survive the ADD COLUMNS split
    engine.sql("ALTER TABLE ns.rev7 ADD COLUMNS (m map<string,int>, "
               "d decimal(10,2))")
    dt = dict(engine.table.read().dtypes)
    assert dt["m"] == "map<string,int>" and dt["d"] == "decimal(10,2)"
    # duplicate names refuse instead of silent last-wins
    with pytest.raises(ValueError, match="duplicate column"):
        engine.sql("ALTER TABLE ns.rev7 ADD COLUMNS (x int, x string)")
    # '(select' inside a string literal is data, not a subquery
    res = engine.sql(
        "DELETE FROM ns.rev7 WHERE status = 'see (select one) above'"
    )
    assert res.first().operation == "delete"
    # WHERE subqueries plan as keyed semi-joins now (r10): IN (SELECT 1)
    # deletes exactly pk=1
    n_before = engine.table.read().count()
    res = engine.sql("DELETE FROM ns.rev7 WHERE pk IN (SELECT 1)")
    assert res.first().operation == "delete"
    after = engine.table.read()
    assert after.count() == n_before - 1
    assert after.filter("pk = 1").count() == 0
    # MERGE action outside the grammar refuses loudly, not AttributeError
    spark.createDataFrame([(1, "A", 1.0)],
                          "pk long, status string, price double"
                          ).createOrReplaceTempView("rev7_src")
    # INSERT under WHEN MATCHED hits the action validator (was an
    # AttributeError crash); UPDATE-without-SET never parses a clause
    # — both must be loud ValueErrors
    with pytest.raises(ValueError, match="WHEN MATCHED action"):
        engine.sql("MERGE INTO ns.rev7 t USING rev7_src s ON t.pk = s.pk "
                   "WHEN MATCHED THEN INSERT (pk) VALUES (s.pk)")
    with pytest.raises(ValueError, match="no parseable WHEN clause"):
        engine.sql("MERGE INTO ns.rev7 t USING rev7_src s ON t.pk = s.pk "
                   "WHEN MATCHED THEN UPDATE price = 1")


# -- property-based WHERE-grammar law (hypothesis, r7) ------------------------
# For ANY predicate in the routed grammar, `DELETE FROM t WHERE P`
# through the SQL door must leave exactly the rows Spark's own
# evaluation keeps under ANSI DELETE semantics (NULL-predicate rows
# SURVIVE). Column names deliberately end in AND/OR substrings
# (operand, major) to pin the identifier-boundary splitter fix.

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_FUZZ_ATOMS = st.sampled_from([
    "pk < 3", "pk >= 2", "price = 150.0", "price > 100.0",
    "status = 'A'", "status <> 'B'", "operand <= 5", "major = 1",
    "price IS NULL", "price IS NOT NULL", "status IN ('A', 'X')",
    "pk BETWEEN 2 AND 3", "status LIKE 'A%'", "NOT (pk = 1)",
    "price + operand > 100.0", "pk % 2 = 0",
    "status = 'see (select one)'",
])
_FUZZ_PRED = st.recursive(
    _FUZZ_ATOMS,
    lambda c: st.builds(
        lambda a, op, b: f"({a}) {op} ({b})",
        c, st.sampled_from(["AND", "OR"]), c,
    ),
    max_leaves=4,
)


@settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_FUZZ_PRED)
def test_delete_router_matches_spark_semantics(spark, pred):
    import tempfile

    from pyspark.sql import functions as F2

    eng = ZeroEtlEngine(
        spark,
        tempfile.mkdtemp(prefix="sqlfuzz_"),
        SourceSpec(table_name="fz-ddb", key_columns=("pk",)),
        TableSpec(namespace="ns", name="fz", key_columns=("pk",)),
    )
    rows = [
        (1, "A", 10.0, 1, 0), (2, "A", 150.0, 7, 1), (3, "B", None, 2, 0),
        (4, "B", 250.0, 9, 1), (5, "X", 100.0, 4, 2), (6, "AB", None, 5, 1),
    ]
    schema = "pk long, status string, price double, operand long, major long"
    base = spark.createDataFrame(rows, schema)
    eng.bootstrap(base)
    expected = sorted(
        map(tuple, base.filter(~F2.coalesce(F2.expr(pred), F2.lit(False))).collect())
    )
    eng.sql(f"DELETE FROM ns.fz WHERE {pred}")
    got = sorted(map(tuple, eng.table.read().collect()))
    assert got == expected, f"predicate {pred!r}: {got} != {expected}"


# -- r8: MERGE NOT MATCHED BY SOURCE, SQL time travel, DROP/SHOW --------------


def test_merge_not_matched_by_source(spark, warehouse):
    """The third Delta clause family: target rows the source does not
    mention take ordered UPDATE/DELETE clauses, first match wins."""
    eng = _engine(spark, warehouse, "nmbs")
    spark.createDataFrame(
        [(1, "A", 99.0), (5, "C", 55.0)], "pk long, status string, price double"
    ).createOrReplaceTempView("nmbs_src")
    res = eng.sql(
        "MERGE INTO ns.nmbs t USING nmbs_src s ON t.pk = s.pk "
        "WHEN MATCHED THEN UPDATE SET price = s.price "
        "WHEN NOT MATCHED THEN INSERT (pk, status, price) "
        "VALUES (s.pk, s.status, s.price) "
        "WHEN NOT MATCHED BY SOURCE AND t.status = 'B' THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET price = 0.0"
    )
    import json

    info = json.loads(res.first().info)
    assert info["not_matched_by_source_clauses"] == ["delete", "update"]
    got = {r.pk: (r.status, r.price) for r in eng.read().collect()}
    # pk1 matched-updated; pk2 (A, unmatched) zeroed; pk3/pk4 (B) deleted;
    # pk5 inserted
    assert got == {1: ("A", 99.0), 2: ("A", 0.0), 5: ("C", 55.0)}


def test_merge_by_source_grammar_refusals(spark, warehouse):
    eng = _engine(spark, warehouse, "nmbsref")
    spark.createDataFrame([(1, "A", 1.0)], "pk long, status string, price double"
                          ).createOrReplaceTempView("nmbsref_src")
    with pytest.raises(ValueError, match="NOT MATCHED BY SOURCE"):
        eng.sql("MERGE INTO ns.nmbsref t USING nmbsref_src s ON t.pk = s.pk "
                "WHEN MATCHED BY SOURCE THEN DELETE")
    # NMBS INSERT is nonsense (no source row to insert from)
    with pytest.raises(ValueError, match="WHEN MATCHED action"):
        eng.sql("MERGE INTO ns.nmbsref t USING nmbsref_src s ON t.pk = s.pk "
                "WHEN NOT MATCHED BY SOURCE THEN INSERT (pk) VALUES (1)")


def test_sql_time_travel_select(spark, warehouse):
    eng = _engine(spark, warehouse, "tt")
    eng.sql("UPDATE ns.tt SET price = price * 10 WHERE price >= 0.0")
    # current view sees v2, VERSION AS OF 1 sees the bootstrap
    cur = eng.sql("SELECT SUM(price) AS s FROM ns_tt").first().s
    old = eng.sql("SELECT SUM(price) AS s FROM ns_tt VERSION AS OF 1").first().s
    assert cur == old * 10
    # join of two versions of the SAME table in one statement
    both = eng.sql(
        "SELECT a.pk, a.price AS now, b.price AS was "
        "FROM ns_tt a JOIN ns_tt VERSION AS OF 1 b ON a.pk = b.pk"
    ).collect()
    assert all(r.now == r.was * 10 for r in both)
    # TIMESTAMP AS OF: epoch far in the future resolves to the head
    now_rows = eng.sql(
        "SELECT COUNT(*) AS n FROM ns_tt TIMESTAMP AS OF 32503680000"
    ).first().n
    assert now_rows == 4
    with pytest.raises(ValueError, match="VERSION AS OF needs an integer"):
        eng.sql("SELECT * FROM ns_tt VERSION AS OF 'one'")
    with pytest.raises(ValueError, match="unknown table"):
        eng.sql("SELECT * FROM nope VERSION AS OF 1")


def test_drop_table_and_show(spark, warehouse):
    eng = _engine(spark, warehouse, "lifec")
    assert [r.namespace for r in eng.sql("SHOW NAMESPACES").collect()] == ["ns"]
    shown = [(r.namespace, r.tableName) for r in eng.sql("SHOW TABLES").collect()]
    assert ("ns", "lifec") in shown
    # create a second table via CTAS, then drop it through SQL
    eng.sql("CREATE TABLE ns.lifec2 PRIMARY KEY (pk) AS "
            "SELECT pk, price FROM ns_lifec")
    assert ("ns", "lifec2") in [
        (r.namespace, r.tableName) for r in eng.sql("SHOW TABLES IN ns").collect()
    ]
    res = eng.sql("DROP TABLE ns.lifec2")
    assert res.first().operation == "drop-table"
    assert ("ns", "lifec2") not in [
        (r.namespace, r.tableName) for r in eng.sql("SHOW TABLES").collect()
    ]
    # recreate under the same name: CTAS must no longer refuse
    eng.sql("CREATE TABLE ns.lifec2 PRIMARY KEY (pk) AS "
            "SELECT pk, status FROM ns_lifec")
    assert eng.catalog.table("ns.lifec2").read().count() == 4
    # IF EXISTS is a no-op on missing tables; bare DROP refuses
    assert eng.sql("DROP TABLE IF EXISTS ns.ghost").first().operation == "drop-table"
    with pytest.raises(ValueError, match="unknown table"):
        eng.sql("DROP TABLE ns.ghost")


def test_drop_table_refuses_staged_wap(spark, warehouse):
    """Dropping a table with unpublished WAP commits must refuse —
    the audit gate owns those snapshots, not the teardown path."""
    eng = _engine(spark, warehouse, "wapdrop")
    from pyspark.sql import functions as F2

    changes = eng.read().limit(1).select(
        F2.lit("MODIFY").alias("op"), "pk", "status",
        F2.lit(1.0).alias("price"),
        F2.lit(1).alias("ts"), F2.lit(1).alias("seq"),
    )
    staged_v = eng.table.stage_changes(changes)
    with pytest.raises(RuntimeError, match="staged"):
        eng.sql("DROP TABLE ns.wapdrop")
    # publish clears the gate; drop then succeeds
    eng.table.publish(staged_v)
    assert eng.sql("DROP TABLE ns.wapdrop").first().operation == "drop-table"


def test_plain_create_table_flows_to_spark_sql(spark, warehouse):
    """ADVICE r7 #3: CREATE TABLE without a PRIMARY KEY clause is NOT
    intercepted by the DDL door — it keeps flowing to spark.sql."""
    assert not sql_dml.is_utility("CREATE TABLE plain_tbl (a INT) USING parquet")
    assert sql_dml.is_utility(
        "CREATE TABLE ns.x PRIMARY KEY (a) AS SELECT 1 AS a")
    eng = _engine(spark, warehouse, "plainct")
    eng.sql("CREATE TABLE IF NOT EXISTS spark_catalog.default.plain_ct "
            "(a INT) USING parquet")
    try:
        assert spark.catalog.tableExists("spark_catalog.default.plain_ct")
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.plain_ct")


def test_ctas_refusal_keeps_catalog_handle_intact(spark, warehouse):
    """ADVICE r7 #1: a refused re-CTAS (different PRIMARY KEY) must not
    clobber the in-memory catalog handle's key_columns."""
    eng = _engine(spark, warehouse, "ctaskeys")
    eng.sql("CREATE TABLE ns.keyed PRIMARY KEY (pk) AS "
            "SELECT pk, status FROM ns_ctaskeys")
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TABLE ns.keyed PRIMARY KEY (status) AS "
                "SELECT status FROM ns_ctaskeys")
    assert eng.catalog.table("ns.keyed").spec.key_columns == ("pk",)


# -- r8 self-review regressions ----------------------------------------------


def test_merge_null_condition_falls_through(spark, warehouse):
    """A clause condition evaluating NULL acts as FALSE and falls
    through to the next clause (Delta/ANSI), instead of three-valued
    logic silently disabling every later clause on that row."""
    eng = _engine(spark, warehouse, "nullcond")
    # make pk 4's status NULL, then run an NMBS chain with a
    # status-conditional DELETE and an unconditional fallback UPDATE
    eng.table.apply_changes(
        spark.createDataFrame(
            [("MODIFY", 4, None, 250.0, 1, 1)],
            "op string, pk long, status string, price double, ts long, seq long",
        )
    )
    spark.createDataFrame([(1, 99.0)], "pk long, price double"
                          ).createOrReplaceTempView("nullcond_src")
    eng.sql(
        "MERGE INTO ns.nullcond t USING nullcond_src s ON t.pk = s.pk "
        "WHEN MATCHED THEN UPDATE SET price = s.price "
        "WHEN NOT MATCHED BY SOURCE AND t.status = 'B' THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET price = 0.0"
    )
    got = {r.pk: r.price for r in eng.read().collect()}
    # pk4 (status NULL): the conditional DELETE's cond is NULL ->
    # falls through to the unconditional UPDATE -> price 0.0
    assert got == {1: 99.0, 2: 0.0, 4: 0.0}


def test_merge_refuses_partially_parsed_when_clauses(spark, warehouse):
    """Every WHEN clause must parse: a typo'd clause must refuse the
    whole statement, never commit a merge without it."""
    eng = _engine(spark, warehouse, "partial")
    spark.createDataFrame([(1, "A", 1.0)], "pk long, status string, price double"
                          ).createOrReplaceTempView("partial_src")
    with pytest.raises(ValueError, match="2 WHEN clause"):
        eng.sql(
            "MERGE INTO ns.partial t USING partial_src s ON t.pk = s.pk "
            "WHEN MATCHED THEN UPDATE SET price = s.price "
            "WHEN NOT MATCHED BY SOURCES THEN DELETE"  # typo: SOURCES
        )
    # nothing committed
    assert eng.table.version == 1


def test_time_travel_ignores_string_literals(spark, warehouse):
    eng = _engine(spark, warehouse, "ttlit")
    # literal content must not be treated as a travel clause
    assert not sql_dml.has_time_travel(
        "SELECT * FROM ns_ttlit WHERE status = 'x FROM y VERSION AS OF 1'"
    )
    rows = eng.sql(
        "SELECT COUNT(*) AS n FROM ns_ttlit "
        "WHERE status <> 'copied FROM audit VERSION AS OF 3'"
    ).first()
    assert rows.n == 4
    # and a real clause NEXT TO a literal still rewrites
    assert sql_dml.has_time_travel(
        "SELECT * FROM ns_ttlit VERSION AS OF 1 WHERE status <> 'FROM x'"
    )


def test_spark_native_drop_and_show_flow_through(spark, warehouse):
    """3-part DROP TABLE and SHOW variants Spark itself supports are
    NOT intercepted (r8 self-review: routing them to the managed
    catalog made real drops silent no-ops)."""
    assert not sql_dml.is_utility("DROP TABLE IF EXISTS spark_catalog.default.x")
    assert not sql_dml.is_utility("SHOW TABLES LIKE 'foo*'")
    assert not sql_dml.is_utility("SHOW TABLES IN spark_catalog.default")
    assert sql_dml.is_utility("DROP TABLE ns.t")
    assert sql_dml.is_utility("DROP TABLE IF EXISTS t2")
    assert sql_dml.is_utility("SHOW TABLES IN ns")
    assert sql_dml.is_utility("SHOW NAMESPACES")
    # end-to-end: a real Spark-catalog table drops through eng.sql
    eng = _engine(spark, warehouse, "nativedrop")
    spark.sql("CREATE TABLE IF NOT EXISTS spark_catalog.default.nat_drop "
              "(a INT) USING parquet")
    eng.sql("DROP TABLE IF EXISTS spark_catalog.default.nat_drop")
    assert not spark.catalog.tableExists("spark_catalog.default.nat_drop")


def test_merge_literal_containing_when_matched(spark, warehouse):
    """r8 review: WHEN-clause splitting runs on the literal-masked
    statement — 'WHEN MATCHED' inside a SET string literal must not
    truncate the clause or inflate the head count."""
    eng = _engine(spark, warehouse, "lit1")
    spark.createDataFrame([(1,)], "pk long").createOrReplaceTempView("lit1_src")
    eng.sql(
        "MERGE INTO ns.lit1 t USING lit1_src s ON t.pk = s.pk "
        "WHEN MATCHED THEN UPDATE SET status = 'WHEN MATCHED wins'"
    )
    got = {r.pk: r.status for r in eng.read().collect()}
    assert got[1] == "WHEN MATCHED wins"
    assert got[2] == "A"


def test_merge_literal_alias_prefix_not_folded(spark, warehouse):
    """Alias folding must skip string literals: 's.' inside a quoted
    value is data, not a source-frame reference."""
    eng = _engine(spark, warehouse, "lit2")
    spark.createDataFrame([(1,)], "pk long").createOrReplaceTempView("lit2_src")
    eng.sql(
        "MERGE INTO ns.lit2 t USING lit2_src s ON t.pk = s.pk "
        "WHEN MATCHED THEN UPDATE SET status = 'by s. parker'"
    )
    assert {r.status for r in eng.read().filter("pk = 1").collect()} == {
        "by s. parker"
    }


def test_update_literal_containing_where(spark, warehouse):
    """UPDATE statement shape matches on the masked copy: a SET
    literal containing ' WHERE ' must not split the clause there."""
    eng = _engine(spark, warehouse, "lit3")
    eng.sql("UPDATE ns.lit3 SET status = 'x WHERE y' WHERE pk = 1")
    got = {r.pk: r.status for r in eng.read().collect()}
    assert got[1] == "x WHERE y"
    assert got[2] == "A"


def test_drop_table_delegates_to_spark_catalog(spark, warehouse):
    """r8 review: DROP TABLE [IF EXISTS] naming a real Spark-catalog
    table (1/2-part) must delegate to spark.sql, not report a
    successful skip while the table survives."""
    import json as _json

    eng = _engine(spark, warehouse, "dropdel")
    spark.sql("DROP TABLE IF EXISTS scratch_drop_r8")
    spark.sql("CREATE TABLE scratch_drop_r8 (a int) USING parquet")
    try:
        assert spark.catalog.tableExists("scratch_drop_r8")
        res = eng.sql("DROP TABLE IF EXISTS scratch_drop_r8")
        info = _json.loads(res.first().info)
        assert info.get("delegated") == "spark catalog"
        assert not spark.catalog.tableExists("scratch_drop_r8")
    finally:
        spark.sql("DROP TABLE IF EXISTS scratch_drop_r8")
    # a name unknown to BOTH catalogs still skips under IF EXISTS...
    res = eng.sql("DROP TABLE IF EXISTS no_such_table_r8")
    assert "skipped" in res.first().info
    # ...and refuses loudly without it
    with pytest.raises(ValueError, match="unknown table"):
        eng.sql("DROP TABLE no_such_table_r8")


def test_insert_partial_columns_replaces_whole_image(spark, warehouse):
    """r9 review: INSERT is the PutItem analog — overwriting an
    existing key REPLACES the whole image, so target columns the
    statement does not supply become NULL (previously they silently
    kept the old values, which is UpdateItem semantics and
    contradicted the handler's documented contract)."""
    eng = _engine(spark, warehouse, "ins5")
    eng.sql("INSERT INTO ns.ins5 (pk, status) VALUES (2, 'REPL')")
    row = eng.read().filter("pk = 2").first()
    assert row.status == "REPL"
    assert row.price is None  # unsupplied column nulled, not retained
    # fresh key via the same partial statement: identical image shape
    eng.sql("INSERT INTO ns.ins5 (pk, status) VALUES (77, 'NEW')")
    row = eng.read().filter("pk = 77").first()
    assert (row.status, row.price) == ("NEW", None)


def test_merge_insert_star_refuses_extra_source_columns(spark, warehouse):
    """r9 review: INSERT * with source columns outside the target used
    to silently project them away — the silent-partial-apply class the
    routed grammar refuses everywhere else (Delta refuses it too)."""
    eng = _engine(spark, warehouse, "mrg3")
    with pytest.raises(ValueError, match="extra_col"):
        eng.sql(
            """
            MERGE INTO ns.mrg3 t
            USING (SELECT 7 AS pk, 'S' AS status, 1.0 AS price,
                          'x' AS extra_col) s
            ON t.pk = s.pk
            WHEN NOT MATCHED THEN INSERT *
            """
        )


def test_dml_and_metadata_answers_collect_without_a_job(spark, warehouse):
    """A routed statement's answer and a metadata fast-path answer are
    local relations: collecting them runs no Spark job."""
    eng = _engine(spark, warehouse, "answers")
    sc = spark.sparkContext

    def collect_jobs(df, group):
        sc.setJobGroup(group, group)
        try:
            rows = df.collect()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    res = eng.sql("DELETE FROM ns.answers WHERE pk = 1")
    rows, jobs = collect_jobs(res, "dml-answer")
    assert rows[0].operation == "delete" and jobs == 0
    assert res.schema.simpleString() == "struct<operation:string,info:string>"

    meta = eng.sql("SELECT COUNT(*) AS n, MIN(pk) AS lo, MAX(pk) AS hi FROM ns.answers")
    rows, jobs = collect_jobs(meta, "meta-answer")
    assert [tuple(r) for r in rows] == [(3, 2, 4)] and jobs == 0
    assert meta.schema.simpleString() == "struct<n:bigint,lo:bigint,hi:bigint>"
