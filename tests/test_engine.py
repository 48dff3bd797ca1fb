"""Engine statement-router tests, modeled on the reference's ScriptTest
corpus (enginetest/queries/script_queries.go): multi-statement scripts with
per-statement expectations, over the canonical fixture tables from
FIXTURES.md (mytable, niltable, typest-style DML)."""

from __future__ import annotations

import pytest

from go_mysql_server_spark.engine import Engine, OkResult, SqlError


@pytest.fixture()
def eng(spark):
    e = Engine(spark)
    e.query("CREATE TABLE mytable (i BIGINT PRIMARY KEY, s VARCHAR(20) NOT NULL)")
    e.query("INSERT INTO mytable VALUES (1,'first row'),(2,'second row'),(3,'third row')")
    return e


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_select_basic(eng):
    got = rows(eng.query("SELECT i, s FROM mytable ORDER BY i"))
    assert got == [(1, "first row"), (2, "second row"), (3, "third row")]


def test_mysql_limit_offset_syntax(eng):
    got = rows(eng.query("SELECT i FROM mytable ORDER BY i LIMIT 1, 2"))
    assert got == [(2,), (3,)]


def test_backticks_and_null_safe_eq(eng):
    got = rows(eng.query("SELECT `i` FROM `mytable` WHERE `s` <=> 'first row'"))
    assert got == [(1,)]


def test_date_format_translation(eng):
    got = rows(eng.query(
        "SELECT DATE_FORMAT(TIMESTAMP '2020-03-04 05:06:07', '%Y-%m-%d %H:%i:%s') AS f"))
    assert got == [("2020-03-04 05:06:07",)]


def test_str_to_date(eng):
    got = rows(eng.query("SELECT STR_TO_DATE('04/03/2020', '%d/%m/%Y') AS d"))
    assert str(got[0][0]).startswith("2020-03-04")


def test_group_concat(eng):
    got = rows(eng.query(
        "SELECT GROUP_CONCAT(s SEPARATOR '|') AS g FROM mytable"))
    assert got == [("first row|second row|third row",)]


def test_insert_returns_okresult(eng):
    res = eng.query("INSERT INTO mytable VALUES (4, 'fourth row')")
    assert isinstance(res, OkResult) and res.rows_affected == 1
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable")) == [(4,)]


def test_insert_duplicate_pk_errors(eng):
    with pytest.raises(SqlError, match="duplicate"):
        eng.query("INSERT INTO mytable VALUES (1, 'dup')")


def test_insert_ignore_skips_duplicates(eng):
    res = eng.query("INSERT IGNORE INTO mytable VALUES (1,'dup'),(5,'fifth')")
    assert res.rows_affected == 1
    assert rows(eng.query("SELECT s FROM mytable WHERE i IN (1,5) ORDER BY i")) == [
        ("first row",), ("fifth",)]


def test_replace_overwrites(eng):
    eng.query("REPLACE INTO mytable VALUES (1, 'replaced')")
    assert rows(eng.query("SELECT s FROM mytable WHERE i = 1")) == [("replaced",)]


def test_on_duplicate_key_update(eng):
    eng.query(
        "INSERT INTO mytable VALUES (1, 'x') "
        "ON DUPLICATE KEY UPDATE s = CONCAT(s, '+odku')")
    assert rows(eng.query("SELECT s FROM mytable WHERE i = 1")) == [
        ("first row+odku",)]


def test_update_where(eng):
    res = eng.query("UPDATE mytable SET s = UPPER(s) WHERE i >= 2")
    assert res.rows_affected == 2
    assert rows(eng.query("SELECT s FROM mytable ORDER BY i")) == [
        ("first row",), ("SECOND ROW",), ("THIRD ROW",)]


def test_delete_where(eng):
    res = eng.query("DELETE FROM mytable WHERE i = 2")
    assert res.rows_affected == 1
    assert rows(eng.query("SELECT i FROM mytable ORDER BY i")) == [(1,), (3,)]


def test_truncate(eng):
    eng.query("TRUNCATE TABLE mytable")
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable")) == [(0,)]


def test_auto_increment_and_last_insert_id(eng):
    eng.query("CREATE TABLE ai (id BIGINT PRIMARY KEY AUTO_INCREMENT, v VARCHAR(10))")
    eng.query("INSERT INTO ai (v) VALUES ('a'),('b')")
    res = eng.query("INSERT INTO ai (v) VALUES ('c')")
    assert res.last_insert_id == 3
    assert rows(eng.query("SELECT id, v FROM ai ORDER BY id")) == [
        (1, "a"), (2, "b"), (3, "c")]
    assert rows(eng.query("SELECT LAST_INSERT_ID() AS x")) == [(3,)]


def test_column_defaults(eng):
    eng.query("CREATE TABLE d (i BIGINT PRIMARY KEY, status VARCHAR(10) DEFAULT 'new', "
              "n INT DEFAULT 42)")
    eng.query("INSERT INTO d (i) VALUES (1)")
    assert rows(eng.query("SELECT i, status, n FROM d")) == [(1, "new", 42)]


def test_not_null_enforced(eng):
    with pytest.raises(SqlError, match="cannot be null"):
        eng.query("INSERT INTO mytable VALUES (9, NULL)")


def test_enum_validation(eng):
    eng.query("CREATE TABLE e (i BIGINT PRIMARY KEY, c ENUM('a','b','c'))")
    eng.query("INSERT INTO e VALUES (1, 'b')")
    with pytest.raises(SqlError, match="ENUM"):
        eng.query("INSERT INTO e VALUES (2, 'z')")


def test_check_constraint(eng):
    eng.query("CREATE TABLE chk (i BIGINT PRIMARY KEY, q INT, CHECK (q > 0))")
    eng.query("INSERT INTO chk VALUES (1, 5)")
    with pytest.raises(SqlError, match="CHECK"):
        eng.query("INSERT INTO chk VALUES (2, -1)")


def test_niltable_three_valued_logic(eng):
    eng.query("CREATE TABLE niltable (i BIGINT PRIMARY KEY, i2 BIGINT, b TINYINT, f DOUBLE)")
    eng.query("INSERT INTO niltable VALUES (1,NULL,NULL,NULL),(2,2,1,NULL),"
              "(3,NULL,0,NULL),(4,4,NULL,4.0),(5,NULL,1,5.0),(6,6,0,6.0)")
    assert rows(eng.query("SELECT i FROM niltable WHERE i2 IS NULL ORDER BY i")) == [
        (1,), (3,), (5,)]
    assert rows(eng.query("SELECT i FROM niltable WHERE NOT (i2 = 4) ORDER BY i")) == [
        (2,), (6,)]
    assert rows(eng.query("SELECT i FROM niltable WHERE i2 <=> NULL ORDER BY i")) == [
        (1,), (3,), (5,)]


def test_user_and_system_variables(eng):
    eng.query("SET @x = 41")
    assert rows(eng.query("SELECT @x + 1 AS v")) == [(42,)]
    eng.query("SET @@foo_var = 'hello'")
    assert rows(eng.query("SELECT @@foo_var AS v")) == [("hello",)]
    assert rows(eng.query("SELECT @@version AS v")) == [("8.0.0-gms-spark",)]


def test_use_and_show_databases(eng):
    eng.query("CREATE DATABASE otherdb")
    eng.query("USE otherdb")
    eng.query("CREATE TABLE t2 (a INT PRIMARY KEY)")
    assert rows(eng.query("SHOW TABLES")) == [("t2",)]
    assert ("otherdb",) in rows(eng.query("SHOW DATABASES"))
    assert rows(eng.query("SELECT DATABASE() AS d")) == [("otherdb",)]


def test_show_columns_and_describe(eng):
    got = rows(eng.query("DESCRIBE mytable"))
    assert got[0][0] == "i" and got[0][3] == "PRI"
    assert got[1][0] == "s" and got[1][2] == "NO"


def test_show_create_table(eng):
    got = rows(eng.query("SHOW CREATE TABLE mytable"))
    assert got[0][0] == "mytable" and "PRIMARY KEY" in got[0][1]


def test_create_table_as_select(eng):
    eng.query("CREATE TABLE copy1 AS SELECT i, s FROM mytable WHERE i <= 2")
    assert rows(eng.query("SELECT COUNT(*) AS c FROM copy1")) == [(2,)]


def test_create_view(eng):
    eng.query("CREATE VIEW myview AS SELECT i FROM mytable WHERE i > 1")
    assert rows(eng.query("SELECT * FROM myview ORDER BY i")) == [(2,), (3,)]


def test_insert_select(eng):
    eng.query("CREATE TABLE archive (i BIGINT PRIMARY KEY, s VARCHAR(20))")
    res = eng.query("INSERT INTO archive SELECT i, s FROM mytable WHERE i != 2")
    assert res.rows_affected == 2


def test_transactions_ack(eng):
    assert isinstance(eng.query("BEGIN"), OkResult)
    assert isinstance(eng.query("COMMIT"), OkResult)
    assert isinstance(eng.query("ROLLBACK"), OkResult)


def test_xor_operator(eng):
    got = rows(eng.query("SELECT (TRUE XOR FALSE) AS a, (TRUE XOR TRUE) AS b"))
    assert got == [(True, False)]


def test_explain_runs(eng):
    got = rows(eng.query("EXPLAIN SELECT i FROM mytable WHERE i = 1"))
    assert "Scan" in got[0][0] or "scan" in got[0][0]


def test_load_data_infile(eng, tmp_path):
    csv = tmp_path / "rows.csv"
    csv.write_text("# header to skip\n10;'ten'\n11;'eleven'\n")
    eng.query("CREATE TABLE loaded (i BIGINT PRIMARY KEY, s VARCHAR(20))")
    res = eng.query(
        f"LOAD DATA INFILE '{csv}' INTO TABLE loaded "
        "FIELDS TERMINATED BY ';' ENCLOSED BY '\\'' IGNORE 1 LINES")
    assert res.rows_affected == 2
    assert rows(eng.query("SELECT i, s FROM loaded ORDER BY i")) == [
        (10, "ten"), (11, "eleven")]


def test_select_into_outfile(eng, tmp_path):
    out = tmp_path / "outdir"
    res = eng.query(f"SELECT i, s FROM mytable ORDER BY i INTO OUTFILE '{out}'")
    assert res.rows_affected == 3
    import glob
    files = glob.glob(str(out / "*.csv"))
    assert files
    content = open(files[0]).read()
    assert "first row" in content


def test_information_schema_tables_and_columns(eng):
    got = rows(eng.query(
        "SELECT TABLE_NAME FROM information_schema.tables "
        "WHERE TABLE_SCHEMA = 'mydb' ORDER BY TABLE_NAME"))
    assert ("mytable",) in got
    cols = rows(eng.query(
        "SELECT COLUMN_NAME, COLUMN_KEY FROM information_schema.columns "
        "WHERE TABLE_NAME = 'mytable' ORDER BY ORDINAL_POSITION"))
    assert cols == [("i", "PRI"), ("s", "")]
    schemas = rows(eng.query(
        "SELECT SCHEMA_NAME FROM information_schema.schemata ORDER BY 1"))
    assert ("mydb",) in schemas


def test_prepared_statements(eng):
    eng.query("PREPARE q FROM 'SELECT s FROM mytable WHERE i = ?'")
    assert rows(eng.query("EXECUTE q USING 2")) == [("second row",)]
    eng.query("SET @p = 3")
    assert rows(eng.query("EXECUTE q USING @p")) == [("third row",)]
    eng.query("DEALLOCATE PREPARE q")
    with pytest.raises(SqlError, match="unknown prepared"):
        eng.query("EXECUTE q USING 1")


def test_before_insert_trigger_set_new(eng):
    eng.query("CREATE TRIGGER up_s BEFORE INSERT ON mytable FOR EACH ROW "
              "SET NEW.s = UPPER(NEW.s)")
    eng.query("INSERT INTO mytable VALUES (7, 'lower case')")
    assert rows(eng.query("SELECT s FROM mytable WHERE i = 7")) == [("LOWER CASE",)]


def test_after_insert_trigger_audit(eng):
    eng.query("CREATE TABLE audit (i BIGINT, note VARCHAR(40))")
    eng.query("CREATE TRIGGER aud AFTER INSERT ON mytable FOR EACH ROW "
              "INSERT INTO audit VALUES (NEW.i, CONCAT('added:', NEW.s))")
    eng.query("INSERT INTO mytable VALUES (8, 'eighth'),(9, 'ninth')")
    assert rows(eng.query("SELECT i, note FROM audit ORDER BY i")) == [
        (8, "added:eighth"), (9, "added:ninth")]


def test_stored_procedure_control_flow(eng):
    eng.query("CREATE TABLE nums (n BIGINT PRIMARY KEY)")
    eng.query(
        "CREATE PROCEDURE fill_nums(IN upto INT) "
        "BEGIN "
        "  DECLARE i INT DEFAULT 1; "
        "  WHILE i <= upto DO "
        "    INSERT INTO nums VALUES (i); "
        "    SET i = i + 1; "
        "  END WHILE; "
        "END")
    eng.query("CALL fill_nums(5)")
    assert rows(eng.query("SELECT COUNT(*) AS c, CAST(SUM(n) AS BIGINT) AS s FROM nums")) == [(5, 15)]


def test_stored_procedure_if_else_and_select(eng):
    eng.query(
        "CREATE PROCEDURE classify(IN x INT) "
        "BEGIN "
        "  IF x > 100 THEN SELECT 'big' AS cls; "
        "  ELSEIF x > 10 THEN SELECT 'mid' AS cls; "
        "  ELSE SELECT 'small' AS cls; "
        "  END IF; "
        "END")
    assert rows(eng.query("CALL classify(500)")) == [("big",)]
    assert rows(eng.query("CALL classify(50)")) == [("mid",)]
    assert rows(eng.query("CALL classify(5)")) == [("small",)]


def test_as_of_time_travel(eng):
    # version 0 = the CREATE (empty), 1 = after the fixture INSERT
    eng.query("UPDATE mytable SET s = 'rewritten' WHERE i = 1")   # version 2
    eng.query("DELETE FROM mytable WHERE i = 3")                  # version 3
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable AS OF 0")) == [(0,)]
    assert rows(eng.query("SELECT s FROM mytable AS OF 1 WHERE i = 1")) == [
        ("first row",)]
    assert rows(eng.query("SELECT s FROM mytable AS OF 2 WHERE i = 1")) == [
        ("rewritten",)]
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable AS OF 3")) == [(2,)]
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable")) == [(2,)]
    with pytest.raises(SqlError, match="AS OF 99"):
        eng.query("SELECT * FROM mytable AS OF 99")


def test_foreign_key_insert_validation(eng):
    eng.query("CREATE TABLE parent (id BIGINT PRIMARY KEY, name VARCHAR(20))")
    eng.query("INSERT INTO parent VALUES (1,'a'),(2,'b')")
    eng.query("CREATE TABLE child (cid BIGINT PRIMARY KEY, pid BIGINT, "
              "FOREIGN KEY (pid) REFERENCES parent(id))")
    eng.query("INSERT INTO child VALUES (10, 1), (11, NULL)")  # NULL FK ok
    with pytest.raises(SqlError, match="FK violation"):
        eng.query("INSERT INTO child VALUES (12, 99)")


def test_foreign_key_on_delete_restrict(eng):
    eng.query("CREATE TABLE p1 (id BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO p1 VALUES (1),(2)")
    eng.query("CREATE TABLE c1 (cid BIGINT PRIMARY KEY, pid BIGINT, "
              "FOREIGN KEY (pid) REFERENCES p1(id))")
    eng.query("INSERT INTO c1 VALUES (10, 1)")
    with pytest.raises(SqlError, match="RESTRICT"):
        eng.query("DELETE FROM p1 WHERE id = 1")
    eng.query("DELETE FROM p1 WHERE id = 2")  # unreferenced → fine


def test_foreign_key_on_delete_cascade(eng):
    eng.query("CREATE TABLE p2 (id BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO p2 VALUES (1),(2)")
    eng.query("CREATE TABLE c2 (cid BIGINT PRIMARY KEY, pid BIGINT, "
              "FOREIGN KEY (pid) REFERENCES p2(id) ON DELETE CASCADE)")
    eng.query("CREATE TABLE g2 (gid BIGINT PRIMARY KEY, cid BIGINT, "
              "FOREIGN KEY (cid) REFERENCES c2(cid) ON DELETE CASCADE)")
    eng.query("INSERT INTO c2 VALUES (10, 1), (11, 2)")
    eng.query("INSERT INTO g2 VALUES (100, 10)")
    eng.query("DELETE FROM p2 WHERE id = 1")   # cascades two levels
    assert rows(eng.query("SELECT cid FROM c2")) == [(11,)]
    assert rows(eng.query("SELECT COUNT(*) AS c FROM g2")) == [(0,)]


def test_foreign_key_on_delete_set_null(eng):
    eng.query("CREATE TABLE p3 (id BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO p3 VALUES (1),(2)")
    eng.query("CREATE TABLE c3 (cid BIGINT PRIMARY KEY, pid BIGINT, "
              "FOREIGN KEY (pid) REFERENCES p3(id) ON DELETE SET NULL)")
    eng.query("INSERT INTO c3 VALUES (10, 1), (11, 2)")
    eng.query("DELETE FROM p3 WHERE id = 1")
    assert rows(eng.query("SELECT cid, pid FROM c3 ORDER BY cid")) == [
        (10, None), (11, 2)]


def test_after_delete_trigger_with_old(eng):
    eng.query("CREATE TABLE graveyard (i BIGINT, s VARCHAR(20))")
    eng.query("CREATE TRIGGER grave AFTER DELETE ON mytable FOR EACH ROW "
              "INSERT INTO graveyard VALUES (OLD.i, OLD.s)")
    eng.query("DELETE FROM mytable WHERE i >= 2")
    assert rows(eng.query("SELECT i, s FROM graveyard ORDER BY i")) == [
        (2, "second row"), (3, "third row")]


def test_after_update_trigger_with_old(eng):
    eng.query("CREATE TABLE changes (i BIGINT, old_s VARCHAR(20))")
    eng.query("CREATE TRIGGER chg AFTER UPDATE ON mytable FOR EACH ROW "
              "INSERT INTO changes VALUES (OLD.i, OLD.s)")
    eng.query("UPDATE mytable SET s = 'x' WHERE i = 1")
    assert rows(eng.query("SELECT i, old_s FROM changes")) == [(1, "first row")]


def test_multi_table_update_join(eng):
    eng.query("CREATE TABLE prices (pk BIGINT PRIMARY KEY, amount DOUBLE, cat VARCHAR(10))")
    eng.query("CREATE TABLE rates (cat VARCHAR(10), mult DOUBLE)")
    eng.query("INSERT INTO prices VALUES (1, 100.0, 'a'), (2, 200.0, 'b'), (3, 50.0, 'a')")
    eng.query("INSERT INTO rates VALUES ('a', 1.1), ('b', 0.5)")
    res = eng.query(
        "UPDATE prices JOIN rates ON prices.cat = rates.cat "
        "SET prices.amount = prices.amount * rates.mult "
        "WHERE prices.amount >= 100")
    assert res.rows_affected == 2
    got = rows(eng.query("SELECT pk, ROUND(amount,2) AS a FROM prices ORDER BY pk"))
    assert got == [(1, 110.0), (2, 100.0), (3, 50.0)]


def test_multi_table_delete_join(eng):
    eng.query("CREATE TABLE sess (sid BIGINT PRIMARY KEY, uid BIGINT)")
    eng.query("CREATE TABLE banned (uid BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO sess VALUES (1, 100), (2, 200), (3, 100)")
    eng.query("INSERT INTO banned VALUES (100)")
    res = eng.query("DELETE sess FROM sess JOIN banned ON sess.uid = banned.uid")
    assert res.rows_affected == 2
    assert rows(eng.query("SELECT sid FROM sess")) == [(2,)]


def test_select_into_user_vars(eng):
    res = eng.query("SELECT i, s FROM mytable WHERE i = 2 INTO @myi, @mys")
    assert res.rows_affected == 1
    assert rows(eng.query("SELECT @myi AS i, @mys AS s")) == [(2, "second row")]
    with pytest.raises(SqlError, match="exactly 1 row"):
        eng.query("SELECT i FROM mytable INTO @x")


def test_mysql_lax_coercions(eng):
    # string↔number comparison coerces numerically (ANSI off, MySQL-style)
    assert rows(eng.query("SELECT ('42' = 42) AS a, (1 + '2') AS b, "
                          "('3.5' * 2) AS c")) == [(True, 3.0, 7.0)]
    # division by zero yields NULL, not an error (MySQL semantics)
    assert rows(eng.query("SELECT 1 / 0 AS d, 1 % 0 AS m")) == [(None, None)]
    # implicit numeric cast in predicates
    eng.query("CREATE TABLE strnum (k BIGINT PRIMARY KEY, v VARCHAR(10))")
    eng.query("INSERT INTO strnum VALUES (1, '10'), (2, '9')")
    assert rows(eng.query("SELECT k FROM strnum WHERE v = 10 ORDER BY k")) == [(1,)]


def test_procedure_cursor_fetch_loop(eng):
    eng.query("CREATE TABLE src (i BIGINT PRIMARY KEY, s VARCHAR(20))")
    eng.query("INSERT INTO src VALUES (1,'a'),(2,'b'),(3,'c')")
    eng.query("CREATE TABLE dst (i BIGINT PRIMARY KEY, s VARCHAR(20))")
    eng.query(
        "CREATE PROCEDURE copy_rows() "
        "BEGIN "
        "  DECLARE done INT DEFAULT 0; "
        "  DECLARE vi BIGINT; "
        "  DECLARE vs VARCHAR(20); "
        "  DECLARE cur CURSOR FOR SELECT i, s FROM src ORDER BY i; "
        "  DECLARE CONTINUE HANDLER FOR NOT FOUND SET done = 1; "
        "  OPEN cur; "
        "  read_loop: LOOP "
        "    FETCH cur INTO vi, vs; "
        "    IF done = 1 THEN LEAVE read_loop; END IF; "
        "    INSERT INTO dst VALUES (vi, UPPER(vs)); "
        "  END LOOP read_loop; "
        "  CLOSE cur; "
        "END")
    eng.query("CALL copy_rows()")
    assert rows(eng.query("SELECT i, s FROM dst ORDER BY i")) == [
        (1, "A"), (2, "B"), (3, "C")]


@pytest.mark.parametrize("action", ["MODIFY c INT NOT NULL",
                                    "CHANGE c c INT NOT NULL"])
def test_alter_not_null_over_null_rows(eng, action):
    """Making a column that holds NULL NOT NULL fails in strict mode with
    ER_INVALID_USE_OF_NULL and leaves the table as it was; outside strict
    mode the NULLs take the implicit default."""
    eng.query("CREATE TABLE nn (k INT PRIMARY KEY, c INT)")
    eng.query("INSERT INTO nn VALUES (1, NULL), (2, 5)")
    with pytest.raises(SqlError, match="Invalid use of NULL value") as err:
        eng.query(f"ALTER TABLE nn {action}")
    assert (err.value.errno, err.value.sqlstate) == (1138, "22004")
    eng.query("INSERT INTO nn VALUES (3, NULL)")  # still nullable
    assert rows(eng.query("SELECT k, c FROM nn ORDER BY k")) == \
        [(1, None), (2, 5), (3, None)]
    eng.query("SET sql_mode = ''")
    eng.query(f"ALTER TABLE nn {action}")
    assert rows(eng.query("SELECT k, c FROM nn ORDER BY k")) == \
        [(1, 0), (2, 5), (3, 0)]
    eng.query("SET sql_mode = 'STRICT_TRANS_TABLES'")
    with pytest.raises(SqlError, match="cannot be null"):
        eng.query("INSERT INTO nn VALUES (4, NULL)")


def test_alter_table_add_drop_rename_modify(eng):
    eng.query("ALTER TABLE mytable ADD COLUMN score INT DEFAULT 5")
    assert rows(eng.query("SELECT i, score FROM mytable WHERE i = 1")) == [(1, 5)]
    eng.query("ALTER TABLE mytable RENAME COLUMN score TO points")
    assert rows(eng.query("SELECT points FROM mytable WHERE i = 1")) == [(5,)]
    eng.query("ALTER TABLE mytable MODIFY COLUMN points BIGINT")
    got = rows(eng.query("DESCRIBE mytable"))
    assert ("points", "bigint") == (got[2][0], got[2][1])
    eng.query("ALTER TABLE mytable DROP COLUMN points")
    assert [r[0] for r in rows(eng.query("DESCRIBE mytable"))] == ["i", "s"]


def test_rename_table(eng):
    eng.query("RENAME TABLE mytable TO renamed_table")
    assert rows(eng.query("SELECT COUNT(*) AS c FROM renamed_table")) == [(3,)]
    with pytest.raises(Exception, match="mytable"):
        # the old temp view is gone → Spark TABLE_OR_VIEW_NOT_FOUND
        eng.query("SELECT * FROM mytable")


def test_before_update_trigger_set_new(eng):
    eng.query("CREATE TABLE bu (i BIGINT PRIMARY KEY, s VARCHAR(30), "
              "touched INT DEFAULT 0)")
    eng.query("INSERT INTO bu VALUES (1, 'alpha', 0), (2, 'beta', 0)")
    eng.query("CREATE TRIGGER bu_t BEFORE UPDATE ON bu FOR EACH ROW "
              "SET NEW.touched = NEW.touched + 1, NEW.s = UPPER(NEW.s)")
    eng.query("UPDATE bu SET s = CONCAT(s, '!') WHERE i = 1")
    assert rows(eng.query("SELECT i, s, touched FROM bu ORDER BY i")) == [
        (1, "ALPHA!", 1), (2, "beta", 0)]
    # WHERE references a column the SET mutates: match must pin pre-update
    eng.query("UPDATE bu SET s = 'beta-done' WHERE s = 'beta'")
    assert rows(eng.query("SELECT s, touched FROM bu WHERE i = 2")) == [
        ("BETA-DONE", 1)]


# ---- round 2: literal-aware rewrites + FK ON UPDATE ------------------------


def test_user_var_not_substituted_inside_literal(eng):
    eng.query("SET @x = 5")
    got = rows(eng.query("SELECT 'a@b.com' AS e, @x AS v"))
    assert got == [("a@b.com", 5)]


def test_xor_and_alias_inside_literal_untouched(eng):
    got = rows(eng.query("SELECT 'a XOR b' AS s1, 'call mid(x)' AS s2, "
                         "TRUE XOR FALSE AS x"))
    assert got == [("a XOR b", "call mid(x)", True)]


def test_truncate_numeric_function(eng):
    got = rows(eng.query("SELECT TRUNCATE(3.847, 2) AS a, "
                         "TRUNCATE(-3.847, 2) AS b, TRUNCATE(1234.5, -2) AS c"))
    assert [round(float(v), 6) for v in got[0]] == [3.84, -3.84, 1200.0]


def test_curtime_returns_time_of_day(eng):
    import re as _re
    got = rows(eng.query("SELECT CURTIME() AS t"))
    assert _re.fullmatch(r"\d{2}:\d{2}:\d{2}", got[0][0])


def test_group_concat_order_by_other_key_desc(eng):
    got = rows(eng.query(
        "SELECT GROUP_CONCAT(s ORDER BY i DESC SEPARATOR '|') AS g FROM mytable"))
    assert got == [("third row|second row|first row",)]


def test_str_to_date_dynamic_format(eng):
    eng.query("CREATE TABLE fmt_t (s VARCHAR(20), f VARCHAR(20))")
    eng.query("INSERT INTO fmt_t VALUES ('04/03/2020', '%d/%m/%Y')")
    got = rows(eng.query("SELECT STR_TO_DATE(s, f) AS d FROM fmt_t"))
    assert str(got[0][0]).startswith("2020-03-04")


def test_fk_on_update_restrict(eng):
    eng.query("CREATE TABLE pu1 (id BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO pu1 VALUES (1),(2)")
    eng.query("CREATE TABLE cu1 (cid BIGINT PRIMARY KEY, pid BIGINT, "
              "FOREIGN KEY (pid) REFERENCES pu1(id))")
    eng.query("INSERT INTO cu1 VALUES (10, 1)")
    with pytest.raises(SqlError, match="RESTRICT"):
        eng.query("UPDATE pu1 SET id = 5 WHERE id = 1")
    eng.query("UPDATE pu1 SET id = 6 WHERE id = 2")  # unreferenced → fine
    assert rows(eng.query("SELECT id FROM pu1 ORDER BY id")) == [(1,), (6,)]


def test_fk_on_update_cascade(eng):
    eng.query("CREATE TABLE pu2 (id BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO pu2 VALUES (1),(2)")
    eng.query("CREATE TABLE cu2 (cid BIGINT PRIMARY KEY, pid BIGINT, "
              "FOREIGN KEY (pid) REFERENCES pu2(id) ON UPDATE CASCADE)")
    eng.query("INSERT INTO cu2 VALUES (10, 1), (11, 2)")
    eng.query("UPDATE pu2 SET id = 100 WHERE id = 1")
    assert rows(eng.query("SELECT cid, pid FROM cu2 ORDER BY cid")) == [
        (10, 100), (11, 2)]


def test_fk_on_update_set_null(eng):
    eng.query("CREATE TABLE pu3 (id BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO pu3 VALUES (1),(2)")
    eng.query("CREATE TABLE cu3 (cid BIGINT PRIMARY KEY, pid BIGINT, "
              "FOREIGN KEY (pid) REFERENCES pu3(id) ON UPDATE SET NULL)")
    eng.query("INSERT INTO cu3 VALUES (10, 1), (11, 2)")
    eng.query("UPDATE pu3 SET id = 100 WHERE id = 1")
    assert rows(eng.query("SELECT cid, pid FROM cu3 ORDER BY cid")) == [
        (10, None), (11, 2)]


def test_collate_clause_ci(eng):
    eng.query("CREATE TABLE coll_t (i BIGINT PRIMARY KEY, s VARCHAR(20))")
    eng.query("INSERT INTO coll_t VALUES (1,'Alice'),(2,'ALICE'),(3,'bob'),(4,'àlice')")
    got = rows(eng.query(
        "SELECT i FROM coll_t WHERE s COLLATE utf8mb4_0900_ai_ci = "
        "'alice' COLLATE utf8mb4_0900_ai_ci ORDER BY i"))
    assert got == [(1,), (2,), (4,)]
    got = rows(eng.query(
        "SELECT i FROM coll_t WHERE s COLLATE utf8mb4_bin = 'Alice' ORDER BY i"))
    assert got == [(1,)]


def test_unsigned_out_of_range_insert_errors(eng):
    eng.query("CREATE TABLE ur (i BIGINT PRIMARY KEY, u TINYINT UNSIGNED, "
              "v INT UNSIGNED)")
    eng.query("INSERT INTO ur VALUES (1, 255, 4294967295)")  # at the bounds
    with pytest.raises(SqlError, match="out of range"):
        eng.query("INSERT INTO ur VALUES (2, 256, 1)")
    with pytest.raises(SqlError, match="out of range"):
        eng.query("INSERT INTO ur VALUES (3, 1, -1)")
    with pytest.raises(SqlError, match="out of range"):
        eng.query("UPDATE ur SET u = 300 WHERE i = 1")
    assert rows(eng.query("SELECT u FROM ur")) == [(255,)]


def test_signed_out_of_range_insert_errors(eng):
    eng.query("CREATE TABLE sr (i BIGINT PRIMARY KEY, t TINYINT)")
    eng.query("INSERT INTO sr VALUES (1, -128), (2, 127)")
    with pytest.raises(SqlError, match="out of range"):
        eng.query("INSERT INTO sr VALUES (3, 128)")


def test_enum_ordinal_order_by(eng):
    eng.query("CREATE TABLE sz (i BIGINT PRIMARY KEY, "
              "size ENUM('small','medium','large'))")
    eng.query("INSERT INTO sz VALUES (1,'large'),(2,'small'),(3,'medium')")
    got = rows(eng.query("SELECT size FROM sz ORDER BY size"))
    assert got == [("small",), ("medium",), ("large",)]  # ordinal, not alpha
    with pytest.raises(SqlError, match="ENUM"):
        eng.query("INSERT INTO sz VALUES (4, 'huge')")


def test_generated_column_insert_and_update(eng):
    eng.query("CREATE TABLE gen_t (i BIGINT PRIMARY KEY, a INT, b INT, "
              "total INT GENERATED ALWAYS AS (a + b) STORED)")
    eng.query("INSERT INTO gen_t (i, a, b) VALUES (1, 2, 3), (2, 10, 20)")
    assert rows(eng.query("SELECT i, total FROM gen_t ORDER BY i")) == [
        (1, 5), (2, 30)]
    eng.query("UPDATE gen_t SET a = 100 WHERE i = 1")
    assert rows(eng.query("SELECT total FROM gen_t WHERE i = 1")) == [(103,)]
    with pytest.raises(SqlError, match="generated"):
        eng.query("INSERT INTO gen_t (i, a, b, total) VALUES (3, 1, 1, 99)")
    with pytest.raises(SqlError, match="generated"):
        eng.query("UPDATE gen_t SET total = 0 WHERE i = 1")


def test_alter_add_generated_column_backfills(eng):
    eng.query("CREATE TABLE gen_b (i BIGINT PRIMARY KEY, s VARCHAR(20))")
    eng.query("INSERT INTO gen_b VALUES (1,'ab'),(2,'cdef')")
    eng.query("ALTER TABLE gen_b ADD COLUMN slen INT "
              "GENERATED ALWAYS AS (length(s)) VIRTUAL")
    assert rows(eng.query("SELECT i, slen FROM gen_b ORDER BY i")) == [
        (1, 2), (2, 4)]


def test_transaction_rollback_restores_data(eng):
    eng.query("BEGIN")
    eng.query("INSERT INTO mytable VALUES (4, 'fourth row')")
    eng.query("UPDATE mytable SET s = 'changed' WHERE i = 1")
    eng.query("CREATE TABLE txn_new (x BIGINT PRIMARY KEY)")
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable")) == [(4,)]
    eng.query("ROLLBACK")
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable")) == [(3,)]
    assert rows(eng.query("SELECT s FROM mytable WHERE i = 1")) == [("first row",)]
    with pytest.raises(Exception):  # Spark AnalysisException: view dropped
        eng.query("SELECT * FROM txn_new")  # created inside rolled-back txn


def test_transaction_commit_keeps_data(eng):
    eng.query("START TRANSACTION")
    eng.query("INSERT INTO mytable VALUES (5, 'fifth row')")
    eng.query("COMMIT")
    eng.query("ROLLBACK")  # no open txn: no-op
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable")) == [(4,)]


def test_savepoint_partial_rollback(eng):
    eng.query("BEGIN")
    eng.query("INSERT INTO mytable VALUES (10, 'ten')")
    eng.query("SAVEPOINT sp1")
    eng.query("INSERT INTO mytable VALUES (11, 'eleven')")
    eng.query("ROLLBACK TO SAVEPOINT sp1")
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable")) == [(4,)]
    eng.query("COMMIT")
    assert rows(eng.query("SELECT i FROM mytable WHERE i >= 10")) == [(10,)]


# ---- round 2: admin surface ------------------------------------------------


def test_users_grants_revoke(eng):
    eng.query("CREATE USER 'app'@'%' IDENTIFIED BY 'secret'")
    eng.query("GRANT SELECT, INSERT ON mydb.* TO 'app'@'%'")
    got = rows(eng.query("SHOW GRANTS FOR 'app'@'%'"))
    assert any("SELECT, INSERT ON mydb.*" in r[0] for r in got)
    eng.query("REVOKE SELECT, INSERT ON mydb.* FROM 'app'@'%'")
    got = rows(eng.query("SHOW GRANTS FOR 'app'@'%'"))
    assert not any("SELECT" in r[0] and "mydb" in r[0] for r in got)
    eng.query("DROP USER 'app'@'%'")
    with pytest.raises(SqlError, match="unknown user"):
        eng.query("GRANT SELECT ON *.* TO 'app'@'%'")


def test_show_index_and_create_index(eng):
    eng.query("CREATE TABLE idx_t (i BIGINT PRIMARY KEY, a INT, b INT, "
              "KEY k_a (a), UNIQUE KEY u_b (b))")
    eng.query("CREATE INDEX k_ab ON idx_t (a, b)")
    got = rows(eng.query("SHOW INDEX FROM idx_t"))
    names = {r[2] for r in got}
    assert names == {"PRIMARY", "k_a", "u_b", "k_ab"}
    eng.query("DROP INDEX k_a ON idx_t")
    got = rows(eng.query("SHOW INDEX FROM idx_t"))
    assert "k_a" not in {r[2] for r in got}


def test_analyze_table_and_histogram(eng):
    got = rows(eng.query("ANALYZE TABLE mytable"))
    assert got[0][3] == "OK"
    got = rows(eng.query(
        "ANALYZE TABLE mytable UPDATE HISTOGRAM ON i WITH 4 BUCKETS"))
    assert "Histogram" in got[0][3]
    got = rows(eng.query("SHOW TABLE STATUS"))
    by_name = {r[0]: r[2] for r in got}
    assert by_name["mytable"] == 3  # ANALYZE recorded the row count


def test_event_one_shot_executes(eng):
    eng.query("CREATE TABLE ev_log (x BIGINT PRIMARY KEY)")
    eng.query("CREATE EVENT ev1 ON SCHEDULE AT CURRENT_TIMESTAMP "
              "DO INSERT INTO ev_log VALUES (42)")
    # due events run at the next statement boundary
    assert rows(eng.query("SELECT x FROM ev_log")) == [(42,)]
    assert rows(eng.query("SHOW EVENTS")) == []  # one-shot auto-dropped


def test_kill_flush_lock_ack(eng):
    assert eng.query("KILL 42").rows_affected == 0
    assert eng.query("FLUSH PRIVILEGES").rows_affected == 0
    assert eng.query("LOCK TABLES mytable READ").rows_affected == 0
    assert eng.query("UNLOCK TABLES").rows_affected == 0


def test_show_misc_variants(eng):
    assert rows(eng.query("SHOW COLLATION"))
    assert rows(eng.query("SHOW CHARACTER SET"))
    assert rows(eng.query("SHOW ENGINES"))
    assert rows(eng.query("SHOW PROCESSLIST"))
    assert rows(eng.query("SHOW WARNINGS")) == []
    assert rows(eng.query("SHOW STATUS"))
    assert rows(eng.query("SHOW OPEN TABLES"))
    assert rows(eng.query("SHOW PRIVILEGES"))


def test_do_statement(eng):
    assert eng.query("DO 1+1").rows_affected == 0


def test_information_schema_extended(eng):
    eng.query("CREATE TABLE is_t (i BIGINT PRIMARY KEY, p BIGINT, "
              "KEY k_p (p), CHECK (i > 0), "
              "FOREIGN KEY (p) REFERENCES mytable(i))")
    got = rows(eng.query(
        "SELECT CONSTRAINT_TYPE FROM information_schema.table_constraints "
        "WHERE TABLE_NAME = 'is_t' ORDER BY CONSTRAINT_TYPE"))
    assert [r[0] for r in got] == ["CHECK", "FOREIGN KEY", "PRIMARY KEY"]
    got = rows(eng.query(
        "SELECT COLUMN_NAME, REFERENCED_TABLE_NAME FROM "
        "information_schema.key_column_usage WHERE TABLE_NAME = 'is_t' "
        "AND REFERENCED_TABLE_NAME IS NOT NULL"))
    assert got == [("p", "mytable")]
    got = rows(eng.query(
        "SELECT INDEX_NAME FROM information_schema.statistics "
        "WHERE TABLE_NAME = 'is_t' ORDER BY INDEX_NAME"))
    assert [r[0] for r in got] == ["PRIMARY", "k_p"]
    assert rows(eng.query(
        "SELECT COLLATION_NAME FROM information_schema.collations "
        "WHERE IS_DEFAULT = 'Yes' AND CHARACTER_SET_NAME = 'utf8mb4'")) == [
        ("utf8mb4_0900_ai_ci",)]
    eng.query("CREATE EVENT isev ON SCHEDULE EVERY 1 HOUR DO SELECT 1")
    assert rows(eng.query(
        "SELECT EVENT_TYPE FROM information_schema.events")) == [("RECURRING",)]


def test_stored_sql_function(eng):
    eng.query("CREATE FUNCTION add_tax(price DOUBLE, rate DOUBLE) "
              "RETURNS DOUBLE DETERMINISTIC RETURN price * (1 + rate)")
    got = rows(eng.query("SELECT ROUND(add_tax(100.0, 0.2), 2) AS t"))
    assert got == [(120.0,)]
    got = rows(eng.query("SELECT i, add_tax(i * 10.0, 0.1) AS v "
                         "FROM mytable ORDER BY i LIMIT 1"))
    assert got == [(1, 11.0)]
    eng.query("DROP FUNCTION add_tax")
    with pytest.raises(Exception):
        eng.query("SELECT add_tax(1.0, 0.5)")


def test_show_create_table_fidelity(eng):
    eng.query("CREATE TABLE sct (i BIGINT PRIMARY KEY AUTO_INCREMENT, "
              "s VARCHAR(10) NOT NULL DEFAULT 'x', "
              "e ENUM('a','b'), "
              "d INT GENERATED ALWAYS AS (i + 1) STORED, "
              "KEY k_s (s), CHECK (i >= 0), "
              "FOREIGN KEY (i) REFERENCES mytable(i) ON DELETE CASCADE)")
    ddl = rows(eng.query("SHOW CREATE TABLE sct"))[0][1]
    for frag in ("AUTO_INCREMENT", "NOT NULL", "DEFAULT 'x'", "enum('a','b')",
                 "GENERATED ALWAYS AS (i + 1) STORED", "KEY `k_s` (s)",
                 "CONSTRAINT `sct_chk_1` CHECK ((`i` >= 0))",
                 "ON DELETE CASCADE", "PRIMARY KEY (i)"):
        assert frag in ddl, f"missing {frag!r} in:\n{ddl}"


def test_as_of_timestamp(eng):
    import datetime as dt
    eng.query("INSERT INTO mytable VALUES (7, 'seventh')")
    marker = dt.datetime.now().isoformat()
    import time as _t; _t.sleep(0.02)
    eng.query("INSERT INTO mytable VALUES (8, 'eighth')")
    got = rows(eng.query(
        f"SELECT COUNT(*) AS c FROM mytable AS OF TIMESTAMP '{marker}'"))
    assert got == [(4,)]
    got = rows(eng.query("SELECT COUNT(*) AS c FROM mytable"))
    assert got == [(5,)]


def test_set_type_validation(eng):
    eng.query("CREATE TABLE set_t (i BIGINT PRIMARY KEY, "
              "flags SET('read','write','exec'))")
    eng.query("INSERT INTO set_t VALUES (1, 'read,write'), (2, ''), (3, NULL)")
    got = rows(eng.query("SELECT i, FIND_IN_SET('write', flags) AS p "
                         "FROM set_t ORDER BY i"))
    assert got == [(1, 2), (2, 0), (3, None)]
    with pytest.raises(SqlError, match="SET"):
        eng.query("INSERT INTO set_t VALUES (4, 'read,delete')")


def test_load_data_set_exprs_and_escapes(eng, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("1;raw_a\n2;raw_b\n")
    eng.query("CREATE TABLE ld_t (i BIGINT PRIMARY KEY, s VARCHAR(40), "
              "up VARCHAR(40))")
    eng.query(
        f"LOAD DATA INFILE '{p}' INTO TABLE ld_t "
        "FIELDS TERMINATED BY ';' "
        "(i, @raw) SET s = CONCAT('v:', @raw), up = UPPER(@raw)")
    got = rows(eng.query("SELECT i, s, up FROM ld_t ORDER BY i"))
    assert got == [(1, "v:raw_a", "RAW_A"), (2, "v:raw_b", "RAW_B")]


def test_python_udtf_table_functions(eng):
    got = rows(eng.query("SELECT * FROM tokenize_text('Alpha Beta Gamma')"))
    assert got == [(0, "alpha"), (1, "beta"), (2, "gamma")]
    got = rows(eng.query("SELECT * FROM generate_series_tf(1, 7, 3)"))
    assert got == [(1,), (4,), (7,)]
    got = rows(eng.query(
        'SELECT key, value FROM json_each(\'{"a": 1, "b": [2, 3]}\') ORDER BY key'))
    assert got == [("a", "1"), ("b", "[2, 3]")]
    got = rows(eng.query(
        "SELECT m.i, t.token FROM mytable m, LATERAL tokenize_text(m.s) t "
        "WHERE m.i = 1 ORDER BY t.pos"))
    assert got == [(1, "first"), (1, "row")]


def test_time_duration_functions(eng):
    got = rows(eng.query(
        "SELECT ADDTIME('10:30:00', '01:45:30') AS a, "
        "SUBTIME('10:30:00', '01:45:30') AS s, "
        "MAKETIME(9, 5, 7) AS m, "
        "TIME_TO_SEC('01:00:30') AS ts"))
    assert got == [("12:15:30", "08:44:30", "09:05:07", 3630)]


# The analysis-retry table (Engine._RETRIES), one case per entry in table
# order, each asserting its rows and how many analyses it cost; then the
# hard entries whose rewrite cannot help, where the original Spark error
# class surfaces. `missing_aggregation` is ONLY_FULL_GROUP_BY with MySQL's
# functional-dependency refinement (r5): grouping by the PRIMARY KEY makes
# every column of the table selectable (MySQL 5.7.5+ dependency detection;
# reference sql/analyzer/rules.go:55); grouping by a NON-unique column
# still rejects ungrouped selects, matching MySQL 8's default mode.
_RETRY_CASES = [
    ("ungrouped_any_value", "",
     "SELECT s, COUNT(*) AS c FROM rt WHERE i = 1", [("a", 1)], 2),
    ("aggregate_order_by", None,
     "SELECT COUNT(*) AS c FROM rt ORDER BY s", [(3,)], 2),
    ("missing_aggregation", None,
     "SELECT s, COUNT(*) AS c FROM mytable GROUP BY i ORDER BY s",
     [("first row", 1), ("second row", 1), ("third row", 1)], 2),
    ("distinct_order_alias", None,
     "SELECT DISTINCT i * 2 AS x FROM rt ORDER BY i * 2",
     [(2,), (4,), (6,)], 2),
    ("lax_minmax", None,
     "SELECT GREATEST(1, 2, '9', 'foo999') AS c", [(9.0,)], 2),
    ("if_int_branches", None,
     "SELECT IF(i > 1, FALSE, i) AS c FROM rt ORDER BY i",
     [(1,), (0,), (0,)], 2),
    ("correlation", None,
     "SELECT 1 AS a, (SELECT a) AS b FROM rt WHERE i = 1", [(1, 1)], 2),
    ("recursive_union", None,
     "WITH RECURSIVE c(n) AS (SELECT 1 UNION SELECT n + 1 FROM c "
     "WHERE n < 3) SELECT n FROM c ORDER BY n", [(1,), (2,), (3,)], 6),
    ("truthiness", None,
     "SELECT i FROM rt WHERE d AND i > 1 ORDER BY i", [(2,), (3,)], 2),
    ("only_full_group_by", None,
     "SELECT s, COUNT(*) AS c FROM rt WHERE i = 1", "MISSING_GROUP_BY", 1),
    ("only_full_group_by_grouped", None,
     "SELECT s, COUNT(*) AS c FROM rt GROUP BY d", "MISSING_AGGREGATION", 1),
    ("if_int_branches_unhelped", None,
     "SELECT IF(i > 1, array(1), 'x') AS c FROM rt", "DATA_DIFF_TYPES", 1),
    ("correlation_unhelped", None,
     "SELECT nosuch FROM rt", "UNRESOLVED_COLUMN", 1),
    ("recursive_union_unhelped", None,
     "WITH RECURSIVE a AS (SELECT 1 AS n), b AS (SELECT n FROM a UNION "
     "SELECT n + 1 FROM b WHERE n < 3) SELECT * FROM b",
     "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE", 1),
    ("truthiness_unhelped", None,
     "SELECT i FROM rt WHERE array(1) AND i > 1", "BINARY_OP_DIFF_TYPES", 2),
]


@pytest.mark.parametrize(("sql_mode", "sql", "want", "analyses"),
                         [c[1:] for c in _RETRY_CASES],
                         ids=[c[0] for c in _RETRY_CASES])
def test_analysis_retry_table(eng, monkeypatch, sql_mode, sql, want,
                              analyses):
    """Analyses are counted at the engine's one analysis call, `_sql`. A
    rescued statement converts no Spark exception; one nothing rescues
    raises the class and text spark.sql raises on the last text tried
    (the text's plan numbers its expressions afresh per analysis)."""
    import re

    from pyspark.errors.exceptions import captured

    eng.query("CREATE TABLE rt (i BIGINT PRIMARY KEY, s VARCHAR(20), "
              "d DOUBLE)")
    eng.query("INSERT INTO rt VALUES (1, 'a', 0.0), (2, 'b', 1.5), "
              "(3, 'b', 2.5)")
    if sql_mode is not None:
        eng.query(f"SET sql_mode = '{sql_mode}'")
    real_sql, real_convert = eng._sql, captured.convert_exception
    seen, conversions = [], []

    def counting_sql(text, **kwargs):
        seen.append(text)
        return real_sql(text, **kwargs)

    def counting_convert(e):
        conversions.append(e)
        return real_convert(e)

    monkeypatch.setattr(eng, "_sql", counting_sql)
    monkeypatch.setattr(captured, "convert_exception", counting_convert)
    if isinstance(want, str):
        with pytest.raises(Exception, match=want) as raised:
            eng.query(sql)
        monkeypatch.undo()
        with pytest.raises(Exception) as direct:
            eng.spark.sql(seen[-1])
        assert type(raised.value) is type(direct.value)
        assert (re.sub(r"#\d+", "#", str(raised.value))
                == re.sub(r"#\d+", "#", str(direct.value)))
    else:
        assert rows(eng.query(sql)) == want
        assert conversions == []
    assert len(seen) == analyses, seen


def test_sql_mode_stays_with_its_connection(spark):
    """Two DB-API connections, one Engine each: A under PIPES_AS_CONCAT,
    B under the default mode, where `||` is OR. A's statement is paused
    after Engine.query has started it and before it transpiles, and B
    runs a whole statement meanwhile; A must still concatenate."""
    import threading

    from go_mysql_server_spark import dbapi

    a, b = dbapi.connect(spark), dbapi.connect(spark)
    a.cursor().execute("SET sql_mode = 'PIPES_AS_CONCAT'")
    paused, resume = threading.Event(), threading.Event()
    select = a._engine._q_select

    def paused_select(sql):
        paused.set()
        assert resume.wait(60)
        return select(sql)

    a._engine._q_select = paused_select
    got = {}

    def run_a():
        try:
            got["a"] = a.cursor().execute("SELECT 'a' || 'b' AS c").fetchall()
        finally:
            paused.set()

    thread = threading.Thread(target=run_a)
    thread.start()
    try:
        assert paused.wait(60)
        got["b"] = b.cursor().execute("SELECT 'a' || 'b' AS c").fetchall()
    finally:
        resume.set()
        thread.join(60)
    assert got == {"a": [("ab",)], "b": [(False,)]}


def test_group_by_with_rollup_sql(eng):
    eng.query("CREATE TABLE ru (g VARCHAR(5), x BIGINT)")
    eng.query("INSERT INTO ru VALUES ('a', 1), ('a', 2), ('b', 10)")
    got = rows(eng.query(
        "SELECT g, SUM(x) AS s FROM ru GROUP BY g WITH ROLLUP "
        "ORDER BY g"))
    assert got == [(None, 13), ("a", 3), ("b", 10)]


def test_show_create_and_status_variants(eng):
    eng.query("CREATE TABLE sct (a INT PRIMARY KEY, b INT)")
    eng.query("CREATE PROCEDURE scp(IN x INT) BEGIN SELECT x; END")
    eng.query("CREATE TRIGGER sctr BEFORE INSERT ON sct FOR EACH ROW "
              "SET NEW.b = 1")
    eng.query("CREATE EVENT sce ON SCHEDULE EVERY 1 HOUR DO SELECT 1")
    eng.query("CREATE FUNCTION scf(x INT) RETURNS INT RETURN x + 1")

    row = eng.query("SHOW CREATE PROCEDURE scp").collect()[0]
    assert "CREATE PROCEDURE `scp`" in row["Create Procedure"]
    # db-qualified names and trailing semicolons resolve too
    row = eng.query("SHOW CREATE PROCEDURE mydb.scp;").collect()[0]
    assert "CREATE PROCEDURE `scp`" in row["Create Procedure"]
    row = eng.query("SHOW CREATE TRIGGER `mydb`.`sctr`").collect()[0]
    assert "BEFORE INSERT ON `sct`" in row["SQL Original Statement"]
    row = eng.query("SHOW CREATE TRIGGER sctr").collect()[0]
    assert "BEFORE INSERT ON `sct`" in row["SQL Original Statement"]
    row = eng.query("SHOW CREATE EVENT sce").collect()[0]
    assert "EVERY" in row["Create Event"]
    row = eng.query("SHOW CREATE FUNCTION scf").collect()[0]
    assert "scf" in row["Create Function"].lower()
    assert eng.query("SHOW PROCEDURE STATUS").count() >= 1
    assert eng.query("SHOW FUNCTION STATUS").count() >= 1
    # replication-less server: empty result sets, correct schemas
    assert eng.query("SHOW BINARY LOGS").count() == 0
    assert eng.query("SHOW REPLICA STATUS").count() == 0
    assert eng.query("SHOW PLUGINS").count() >= 1


def test_table_maintenance_statements(eng):
    eng.query("CREATE TABLE maint (a INT PRIMARY KEY, b VARCHAR(10))")
    eng.query("INSERT INTO maint VALUES (1, 'x'), (2, 'y')")
    c1 = eng.query("CHECKSUM TABLE maint").collect()[0]
    assert c1["Table"].endswith(".maint") and isinstance(c1["Checksum"], int)
    # checksum is content-derived: changing a row changes it
    eng.query("UPDATE maint SET b = 'z' WHERE a = 2")
    c2 = eng.query("CHECKSUM TABLE maint").collect()[0]
    assert c2["Checksum"] != c1["Checksum"]
    chk = eng.query("CHECK TABLE maint").collect()
    assert chk[0]["Msg_text"] == "OK"
    opt = eng.query("OPTIMIZE TABLE maint").collect()
    assert opt[-1]["Msg_text"] == "OK"
    rep = eng.query("REPAIR TABLE maint").collect()
    assert rep[0]["Op"] == "repair"


def test_create_table_like(eng):
    eng.query("CREATE TABLE ctl_src (a INT PRIMARY KEY AUTO_INCREMENT, "
              "b VARCHAR(10) NOT NULL DEFAULT 'x', CHECK (a > 0))")
    eng.query("INSERT INTO ctl_src (b) VALUES ('p'), ('q')")
    eng.query("CREATE TABLE ctl_dst LIKE ctl_src")
    # clone has the schema but not the data
    assert eng.query("SELECT COUNT(*) AS n FROM ctl_dst").collect()[0]["n"] == 0
    eng.query("INSERT INTO ctl_dst (b) VALUES ('z')")
    row = eng.query("SELECT a, b FROM ctl_dst").collect()[0]
    assert (row["a"], row["b"]) == (1, "z")  # fresh auto_increment
    ddl = eng.query("SHOW CREATE TABLE ctl_dst").collect()[0]["Create Table"]
    assert "PRIMARY KEY" in ddl and "DEFAULT 'x'" in ddl and "CHECK" in ddl
    # IF NOT EXISTS variant is a no-op on the existing clone
    eng.query("CREATE TABLE IF NOT EXISTS ctl_dst LIKE ctl_src")


def test_column_statistics_from_analyze(eng):
    eng.query("CREATE TABLE hstats (a INT PRIMARY KEY, v DOUBLE)")
    eng.query("INSERT INTO hstats VALUES (1, 1.0), (2, 2.0), (3, 3.0), "
              "(4, 4.0), (5, 5.0)")
    eng.query("ANALYZE TABLE hstats UPDATE HISTOGRAM ON v WITH 4 BUCKETS")
    rows = eng.query(
        "SELECT TABLE_NAME, COLUMN_NAME, HISTOGRAM "
        "FROM information_schema.column_statistics "
        "WHERE TABLE_NAME = 'hstats'").collect()
    assert len(rows) == 1 and rows[0]["COLUMN_NAME"] == "v"
    import json
    h = json.loads(rows[0]["HISTOGRAM"])
    assert h["histogram-type"] == "equi-height" and len(h["buckets"]) == 5


# ---- round 3: binlog-replica analogue (streaming change-stream consumer) ----


def test_replica_change_stream(eng, tmp_path):
    """CHANGE REPLICATION SOURCE / START REPLICA consume a JSON-lines
    change stream via Structured Streaming; the streaming checkpoint is the
    replication position, so a second START only applies new files
    (reference sql/binlogreplication/binlog_replication.go:42-57,
    sql/plan/replication_commands.go)."""
    import json

    eng.query("CREATE TABLE repl_t (id BIGINT PRIMARY KEY, v VARCHAR(20))")
    src = tmp_path / "stream"
    src.mkdir()

    def emit(name, events):
        (src / name).write_text("\n".join(json.dumps(e) for e in events))

    emit("000001.json", [
        {"gtid": 1, "table": "repl_t", "op": "insert",
         "row": {"id": "1", "v": "a"}},
        {"gtid": 2, "table": "repl_t", "op": "insert",
         "row": {"id": "2", "v": "b"}},
        {"gtid": 3, "table": "repl_t", "op": "update",
         "row": {"id": "2", "v": "b2"}, "key": {"id": "2"}},
    ])
    eng.query(f"CHANGE REPLICATION SOURCE TO SOURCE_DIR='{src}', "
              "SOURCE_HOST='upstream', SOURCE_PORT=3306")
    eng.query("RESET REPLICA")  # clear any stale checkpoint for this dir
    eng.query("START REPLICA")
    assert rows(eng.query("SELECT id, v FROM repl_t ORDER BY id")) == [
        (1, "a"), (2, "b2")]

    st = eng.query("SHOW REPLICA STATUS").collect()[0]
    assert st["Replica_IO_Running"] == "Yes"
    assert st["Exec_Source_Gtid"] == 3
    assert st["Events_Applied"] == 3

    # new file: delete 1, insert 3 — resume applies ONLY the new file
    emit("000002.json", [
        {"gtid": 4, "table": "repl_t", "op": "delete", "key": {"id": "1"}},
        {"gtid": 5, "table": "repl_t", "op": "insert",
         "row": {"id": "3", "v": "c"}},
    ])
    eng.query("START REPLICA")
    assert rows(eng.query("SELECT id, v FROM repl_t ORDER BY id")) == [
        (2, "b2"), (3, "c")]
    st = eng.query("SHOW REPLICA STATUS").collect()[0]
    assert st["Exec_Source_Gtid"] == 5 and st["Events_Applied"] == 5

    eng.query("STOP REPLICA")
    st = eng.query("SHOW REPLICA STATUS").collect()[0]
    assert st["Replica_IO_Running"] == "No"


def test_replica_unconfigured_errors_and_empty_status(eng):
    import pytest

    from go_mysql_server_spark.engine import SqlError

    assert eng.query("SHOW REPLICA STATUS").count() == 0
    with pytest.raises(SqlError, match="not configured"):
        eng.query("START REPLICA")
    # START TRANSACTION still routes to the txn path
    eng.query("START TRANSACTION")
    eng.query("ROLLBACK")


def test_async_event_scheduler(eng):
    """SET GLOBAL event_scheduler = ON runs due events on a background
    thread (reference eventscheduler/event_scheduler.go goroutine) — the
    event fires with NO intervening statement to trigger the synchronous
    statement-boundary path."""
    import time

    eng.query("CREATE TABLE evta (i BIGINT PRIMARY KEY)")
    eng.query("CREATE EVENT bg_oneshot ON SCHEDULE AT CURRENT_TIMESTAMP "
              "+ INTERVAL 1 SECOND DO INSERT INTO evta VALUES (1)")
    eng.query("SET GLOBAL event_scheduler = ON")
    try:
        deadline = time.time() + 10
        # poll engine STATE directly — no eng.query() calls, so only the
        # scheduler thread can have executed the event
        while time.time() < deadline and "bg_oneshot" in eng.events:
            time.sleep(0.1)
        assert "bg_oneshot" not in eng.events, "scheduler thread never fired"
        assert eng._db(None)["evta"].df.count() == 1
    finally:
        eng.query("SET GLOBAL event_scheduler = OFF")
    assert eng.session.sys_vars["event_scheduler"] == "OFF"


def test_update_delete_order_by_limit(eng):
    """UPDATE/DELETE ... ORDER BY ... LIMIT n touch only the first n rows
    in the given order (reference sql/plan/update.go / delete.go carry
    SortFields + Limit)."""
    eng.query("CREATE TABLE obl (i BIGINT PRIMARY KEY, v BIGINT)")
    eng.query("INSERT INTO obl VALUES (1,10),(2,20),(3,30),(4,40)")
    res = eng.query("UPDATE obl SET v = v + 1 ORDER BY i DESC LIMIT 2")
    assert res.rows_affected == 2
    assert rows(eng.query("SELECT i, v FROM obl ORDER BY i")) == [
        (1, 10), (2, 20), (3, 31), (4, 41)]
    res = eng.query("DELETE FROM obl ORDER BY i LIMIT 1")
    assert res.rows_affected == 1
    assert rows(eng.query("SELECT i FROM obl ORDER BY i")) == [(2,), (3,), (4,)]
    # bare LIMIT without ORDER BY still bounds the count
    res = eng.query("DELETE FROM obl WHERE i > 0 LIMIT 2")
    assert res.rows_affected == 2
    assert eng.query("SELECT COUNT(*) AS c FROM obl").collect()[0]["c"] == 1


def test_window_clause_named_windows(eng):
    """MySQL 8 WINDOW clause (named windows) — Spark 4 parses it natively;
    pin it so a transpiler change never breaks it."""
    eng.query("CREATE TABLE wc (i BIGINT PRIMARY KEY, g BIGINT, v BIGINT)")
    eng.query("INSERT INTO wc VALUES (1,1,10),(2,1,20),(3,2,30),(4,2,40)")
    got = rows(eng.query(
        "SELECT i, SUM(v) OVER w AS s FROM wc "
        "WINDOW w AS (PARTITION BY g ORDER BY i) ORDER BY i"))
    assert got == [(1, 10), (2, 30), (3, 30), (4, 70)]


# ---- stored-program control flow: REPEAT / CASE / SIGNAL / handlers ---------
# (reference sql/plan/repeat.go, case.go, signal.go, declare_handler.go,
#  declare_condition.go)


def test_procedure_repeat_until(eng):
    eng.query("CREATE TABLE rpt (n BIGINT PRIMARY KEY)")
    eng.query(
        "CREATE PROCEDURE fill_rpt() "
        "BEGIN "
        "  DECLARE x INT DEFAULT 1; "
        "  REPEAT "
        "    INSERT INTO rpt VALUES (x); "
        "    SET x = x + 1; "
        "  UNTIL x > 3 END REPEAT; "
        "END")
    eng.query("CALL fill_rpt()")
    assert rows(eng.query("SELECT n FROM rpt ORDER BY n")) == [(1,), (2,), (3,)]


def test_procedure_labeled_repeat_leave(eng):
    eng.query("CREATE TABLE rpt2 (n BIGINT PRIMARY KEY)")
    eng.query(
        "CREATE PROCEDURE fill_rpt2() "
        "BEGIN "
        "  DECLARE x INT DEFAULT 1; "
        "  lp: REPEAT "
        "    INSERT INTO rpt2 VALUES (x); "
        "    SET x = x + 1; "
        "    IF x = 3 THEN LEAVE lp; END IF; "
        "  UNTIL x > 100 END REPEAT lp; "
        "END")
    eng.query("CALL fill_rpt2()")
    assert rows(eng.query("SELECT n FROM rpt2 ORDER BY n")) == [(1,), (2,)]


def test_procedure_case_statement_value_form(eng):
    eng.query("CREATE TABLE cs (k BIGINT PRIMARY KEY, v VARCHAR(10))")
    eng.query(
        "CREATE PROCEDURE classify(IN x INT) "
        "BEGIN "
        "  CASE x "
        "    WHEN 1 THEN INSERT INTO cs VALUES (x, 'one'); "
        "    WHEN 2 THEN INSERT INTO cs VALUES (x, 'two'); "
        "    ELSE INSERT INTO cs VALUES (x, 'many'); "
        "  END CASE; "
        "END")
    eng.query("CALL classify(1)")
    eng.query("CALL classify(2)")
    eng.query("CALL classify(9)")
    assert rows(eng.query("SELECT k, v FROM cs ORDER BY k")) == [
        (1, "one"), (2, "two"), (9, "many")]


def test_procedure_case_statement_searched_no_match_errors(eng):
    eng.query(
        "CREATE PROCEDURE pick(IN x INT) "
        "BEGIN "
        "  CASE WHEN x > 10 THEN SELECT 'big'; END CASE; "
        "END")
    # searched CASE with no matching branch and no ELSE → MySQL error 1339
    with pytest.raises(SqlError, match="Case not found"):
        eng.query("CALL pick(1)")
    assert rows(eng.query("CALL pick(11)")) == [("big",)]


def test_procedure_signal_sqlstate(eng):
    eng.query(
        "CREATE PROCEDURE guard(IN x INT) "
        "BEGIN "
        "  IF x < 0 THEN "
        "    SIGNAL SQLSTATE '45000' SET MESSAGE_TEXT = 'negative not allowed', "
        "      MYSQL_ERRNO = 1644; "
        "  END IF; "
        "  SELECT x * 2 AS doubled; "
        "END")
    assert rows(eng.query("CALL guard(21)")) == [(42,)]
    with pytest.raises(SqlError, match="negative not allowed") as ei:
        eng.query("CALL guard(-1)")
    assert ei.value.sqlstate == "45000"
    assert ei.value.errno == 1644


def test_procedure_handler_catches_signal_continue(eng):
    eng.query("CREATE TABLE log45 (msg VARCHAR(40))")
    eng.query(
        "CREATE PROCEDURE trysig() "
        "BEGIN "
        "  DECLARE CONTINUE HANDLER FOR SQLEXCEPTION "
        "    INSERT INTO log45 VALUES ('caught'); "
        "  SIGNAL SQLSTATE '45000' SET MESSAGE_TEXT = 'boom'; "
        "  INSERT INTO log45 VALUES ('after'); "
        "END")
    eng.query("CALL trysig()")
    # CONTINUE → handler ran, then execution resumed after the SIGNAL
    assert sorted(rows(eng.query("SELECT msg FROM log45"))) == [
        ("after",), ("caught",)]


def test_procedure_exit_handler_leaves_inner_block_only(eng):
    eng.query("CREATE TABLE log46 (msg VARCHAR(40))")
    eng.query(
        "CREATE PROCEDURE nested() "
        "BEGIN "
        "  BEGIN "
        "    DECLARE EXIT HANDLER FOR SQLSTATE '45000' "
        "      INSERT INTO log46 VALUES ('inner caught'); "
        "    SIGNAL SQLSTATE '45000'; "
        "    INSERT INTO log46 VALUES ('unreached'); "
        "  END; "
        "  INSERT INTO log46 VALUES ('outer continues'); "
        "END")
    eng.query("CALL nested()")
    assert sorted(rows(eng.query("SELECT msg FROM log46"))) == [
        ("inner caught",), ("outer continues",)]


def test_procedure_named_condition_and_resignal(eng):
    eng.query(
        "CREATE PROCEDURE named_cond() "
        "BEGIN "
        "  DECLARE bad_thing CONDITION FOR SQLSTATE '45002'; "
        "  DECLARE CONTINUE HANDLER FOR bad_thing RESIGNAL SET "
        "    MESSAGE_TEXT = 'wrapped'; "
        "  SIGNAL bad_thing SET MESSAGE_TEXT = 'original'; "
        "END")
    with pytest.raises(SqlError, match="wrapped") as ei:
        eng.query("CALL named_cond()")
    assert ei.value.sqlstate == "45002"


def test_procedure_handler_specificity(eng):
    eng.query("CREATE TABLE log47 (msg VARCHAR(40))")
    eng.query(
        "CREATE PROCEDURE specif() "
        "BEGIN "
        "  DECLARE CONTINUE HANDLER FOR SQLEXCEPTION "
        "    INSERT INTO log47 VALUES ('generic'); "
        "  DECLARE CONTINUE HANDLER FOR SQLSTATE '45003' "
        "    INSERT INTO log47 VALUES ('specific'); "
        "  SIGNAL SQLSTATE '45003'; "
        "END")
    eng.query("CALL specif()")
    # the SQLSTATE-specific handler outranks the SQLEXCEPTION class handler
    assert rows(eng.query("SELECT msg FROM log47")) == [("specific",)]


def test_procedure_fetch_past_end_without_handler_errors(eng):
    eng.query("CREATE TABLE one_row (i BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO one_row VALUES (1)")
    eng.query(
        "CREATE PROCEDURE overfetch() "
        "BEGIN "
        "  DECLARE v BIGINT; "
        "  DECLARE cur CURSOR FOR SELECT i FROM one_row; "
        "  OPEN cur; "
        "  FETCH cur INTO v; "
        "  FETCH cur INTO v; "
        "  CLOSE cur; "
        "END")
    # MySQL error 1329 (SQLSTATE 02000) when no NOT FOUND handler exists
    with pytest.raises(SqlError, match="No data") as ei:
        eng.query("CALL overfetch()")
    assert ei.value.errno == 1329


def test_validation_trigger_before_insert_signal(eng):
    eng.query("CREATE TABLE accounts (id BIGINT PRIMARY KEY, balance BIGINT)")
    eng.query(
        "CREATE TRIGGER chk_balance BEFORE INSERT ON accounts FOR EACH ROW "
        "BEGIN "
        "  IF NEW.balance < 0 THEN "
        "    SIGNAL SQLSTATE '45000' SET MESSAGE_TEXT = 'negative balance'; "
        "  END IF; "
        "END")
    eng.query("INSERT INTO accounts VALUES (1, 100)")
    with pytest.raises(SqlError, match="negative balance") as ei:
        eng.query("INSERT INTO accounts VALUES (2, -5)")
    assert ei.value.sqlstate == "45000"
    # the failed statement inserted nothing
    assert rows(eng.query("SELECT COUNT(*) AS c FROM accounts")) == [(1,)]


def test_validation_trigger_before_update_signal(eng):
    eng.query("CREATE TABLE accts2 (id BIGINT PRIMARY KEY, balance BIGINT)")
    eng.query("INSERT INTO accts2 VALUES (1, 100), (2, 50)")
    eng.query(
        "CREATE TRIGGER chk_upd BEFORE UPDATE ON accts2 FOR EACH ROW "
        "IF NEW.balance < 0 THEN "
        "  SIGNAL SQLSTATE '45001' SET MESSAGE_TEXT = 'overdraft', MYSQL_ERRNO = 1690; "
        "END IF")
    eng.query("UPDATE accts2 SET balance = balance - 10 WHERE id = 1")
    assert rows(eng.query("SELECT balance FROM accts2 WHERE id = 1")) == [(90,)]
    with pytest.raises(SqlError, match="overdraft") as ei:
        eng.query("UPDATE accts2 SET balance = balance - 100 WHERE id = 2")
    assert ei.value.errno == 1690
    # untouched rows keep their values after the aborted statement
    assert rows(eng.query("SELECT balance FROM accts2 WHERE id = 2")) == [(50,)]


def test_bit_type_bounds_and_literals(eng):
    eng.query("CREATE TABLE flags (id BIGINT PRIMARY KEY, b BIT(3))")
    eng.query("INSERT INTO flags VALUES (1, b'101'), (2, 0), (3, 7)")
    assert rows(eng.query("SELECT id, b FROM flags ORDER BY id")) == [
        (1, 5), (2, 0), (3, 7)]
    # strict mode: 8 is out of range for BIT(3)
    with pytest.raises(SqlError):
        eng.query("INSERT INTO flags VALUES (4, 8)")
    # bit literal arithmetic in SELECT context
    assert rows(eng.query("SELECT b'101' + 0b10 AS c")) == [(7,)]


def test_information_schema_extended_tables(eng):
    eng.query("CREATE TABLE parent (id BIGINT PRIMARY KEY)")
    eng.query("CREATE TABLE child (id BIGINT PRIMARY KEY, pid BIGINT, "
              "CHECK (id > 0), "
              "FOREIGN KEY (pid) REFERENCES parent(id) ON DELETE CASCADE)")
    got = rows(eng.query(
        "SELECT TABLE_NAME, REFERENCED_TABLE_NAME, DELETE_RULE "
        "FROM information_schema.referential_constraints"))
    assert got == [("child", "parent", "CASCADE")]
    chk = rows(eng.query(
        "SELECT CONSTRAINT_NAME, CHECK_CLAUSE "
        "FROM information_schema.check_constraints"))
    # r5: clause renders in MySQL normal form (backticked identifiers)
    assert chk and "`id` > 0" in chk[0][1]
    eng.query("CREATE PROCEDURE addone(IN x INT) BEGIN SELECT x + 1; END")
    params = rows(eng.query(
        "SELECT SPECIFIC_NAME, PARAMETER_MODE, PARAMETER_NAME "
        "FROM information_schema.parameters"))
    assert ("addone", "IN", "x") in params
    # static/empty MySQL-parity tables resolve with MySQL's shapes
    assert rows(eng.query(
        "SELECT SUPPORT FROM information_schema.engines "
        "WHERE ENGINE = 'InnoDB'")) == [("DEFAULT",)]
    assert rows(eng.query(
        "SELECT SRS_ID FROM information_schema.st_spatial_reference_systems "
        "ORDER BY SRS_ID")) == [(0,), (4326,)]
    assert rows(eng.query(
        "SELECT COUNT(*) AS c FROM information_schema.applicable_roles")) == [(0,)]
    assert rows(eng.query(
        "SELECT COUNT(*) AS c FROM information_schema.optimizer_trace")) == [(0,)]
    kw = rows(eng.query(
        "SELECT RESERVED FROM information_schema.keywords WHERE WORD = 'SELECT'"))
    assert kw == [(1,)]
    pl = rows(eng.query(
        "SELECT COMMAND FROM information_schema.processlist"))
    assert pl == [("Query",)]
    parts = rows(eng.query(
        "SELECT TABLE_NAME, PARTITION_NAME FROM information_schema.partitions "
        "WHERE TABLE_NAME = 'child'"))
    assert parts == [("child", None)]


def test_update_ignore_downgrades_errors(eng):
    eng.query("CREATE TABLE ui (id BIGINT PRIMARY KEY, v INT NOT NULL, "
              "s VARCHAR(10) NOT NULL)")
    eng.query("INSERT INTO ui VALUES (1, 10, 'a'), (2, 20, 'b')")
    # plain UPDATE errors on NULL into NOT NULL
    with pytest.raises(SqlError):
        eng.query("UPDATE ui SET v = NULL WHERE id = 1")
    # IGNORE: NULL becomes the implicit default (0 / '')
    eng.query("UPDATE IGNORE ui SET v = NULL, s = NULL WHERE id = 1")
    assert rows(eng.query("SELECT v, s FROM ui WHERE id = 1")) == [(0, "")]
    # IGNORE: out-of-range INT clamps to the type bound
    eng.query("UPDATE IGNORE ui SET v = 99999999999 WHERE id = 2")
    assert rows(eng.query("SELECT v FROM ui WHERE id = 2")) == [(2147483647,)]


def test_convert_and_charset_functions(eng):
    assert rows(eng.query("SELECT CONVERT('abc' USING utf8mb4) AS c")) == [("abc",)]
    got = rows(eng.query("SELECT CONVERT('3.2', DECIMAL(5,2)) AS c"))
    assert str(got[0][0]) == "3.20"
    assert rows(eng.query("SELECT CONVERT('42', SIGNED) AS c")) == [(42,)]
    assert rows(eng.query(
        "SELECT CHARSET('x') AS c, COLLATION('x') AS d")) == [
        ("utf8mb4", "utf8mb4_0900_ai_ci")]


def test_insert_ignore_implicit_defaults(eng):
    eng.query("CREATE TABLE ii (id BIGINT PRIMARY KEY, v INT NOT NULL)")
    with pytest.raises(SqlError):
        eng.query("INSERT INTO ii VALUES (1, NULL)")
    eng.query("INSERT IGNORE INTO ii VALUES (1, NULL), (2, 99999999999)")
    assert rows(eng.query("SELECT id, v FROM ii ORDER BY id")) == [
        (1, 0), (2, 2147483647)]


def test_non_strict_sql_mode_clamps(eng):
    eng.query("CREATE TABLE sm (id BIGINT PRIMARY KEY, v INT NOT NULL)")
    # MySQL 8 default sql_mode is strict → out-of-range errors
    assert "STRICT_TRANS_TABLES" in rows(
        eng.query("SELECT @@sql_mode AS m"))[0][0]
    with pytest.raises(SqlError):
        eng.query("INSERT INTO sm VALUES (1, 99999999999)")
    # non-strict: the same statements clamp / take implicit defaults
    eng.query("SET sql_mode = ''")
    eng.query("INSERT INTO sm VALUES (1, 99999999999)")
    eng.query("UPDATE sm SET v = NULL WHERE id = 1")
    assert rows(eng.query("SELECT v FROM sm")) == [(0,)]
    eng.query("SET sql_mode = 'STRICT_TRANS_TABLES'")
    with pytest.raises(SqlError):
        eng.query("UPDATE sm SET v = NULL WHERE id = 1")


# ---- round-4 advisor regressions -------------------------------------------


def test_every_static_information_schema_table_selects(eng):
    """r4 advisor: n_cols counted commas so decimal(9,6) in the profiling
    schema built a 5-tuple placeholder against 4 fields and crashed
    createDataFrame. Every static table must at least COUNT(*)."""
    for name in Engine._IS_STATIC:
        got = rows(eng.query(
            f"SELECT COUNT(*) AS c FROM information_schema.{name}"))
        assert got[0][0] >= 0, name


def test_insert_ignore_unparseable_string_converts_to_zero(eng):
    """r4 advisor: 'abc' into INT under IGNORE must become 0 (MySQL
    non-strict conversion), not the type minimum that greatest(NULL, lo)
    produced."""
    eng.query("CREATE TABLE lc (id BIGINT PRIMARY KEY, v INT NOT NULL)")
    eng.query("INSERT IGNORE INTO lc VALUES (1, 'abc'), (2, '7'), (3, NULL)")
    assert rows(eng.query("SELECT id, v FROM lc ORDER BY id")) == [
        (1, 0), (2, 7), (3, 0)]


def test_procedure_handler_errno_beats_class_in_same_frame(eng):
    """r4 advisor: rank 0 (errno, most specific) was falsy in
    `min(best or 9, n)` so a FOR <errno>, SQLEXCEPTION handler ranked 3
    and could lose to a bare-sqlstate handler in the same frame."""
    eng.query("CREATE TABLE log48 (msg VARCHAR(40))")
    eng.query(
        "CREATE PROCEDURE specif2() "
        "BEGIN "
        "  DECLARE CONTINUE HANDLER FOR SQLSTATE '45003' "
        "    INSERT INTO log48 VALUES ('state'); "
        "  DECLARE CONTINUE HANDLER FOR 1644, SQLEXCEPTION "
        "    INSERT INTO log48 VALUES ('errno'); "
        "  SIGNAL SQLSTATE '45003' SET MYSQL_ERRNO = 1644; "
        "END")
    eng.query("CALL specif2()")
    # errno (rank 0) outranks sqlstate (rank 1) even though the handler
    # also lists the catch-all SQLEXCEPTION class
    assert rows(eng.query("SELECT msg FROM log48")) == [("errno",)]


def test_procedure_case_null_subject_raises_1339(eng):
    """r4 advisor: value-form CASE compared with <=> so CASE NULL WHEN
    NULL fired; MySQL uses = (NULL = NULL is unknown) and raises 1339."""
    eng.query(
        "CREATE PROCEDURE casenull() "
        "BEGIN "
        "  CASE NULL WHEN NULL THEN SELECT 'fired'; END CASE; "
        "END")
    with pytest.raises(SqlError, match="Case not found"):
        eng.query("CALL casenull()")


def test_nested_convert_rewrites(eng):
    """r4 advisor: _rewrite_convert skipped past its replacement so a
    CONVERT nested inside another CONVERT's argument reached Spark raw."""
    assert rows(eng.query(
        "SELECT CONVERT(CONVERT('00042' USING utf8mb4), SIGNED) AS c")) == [
        (42,)]
    assert rows(eng.query(
        "SELECT CONVERT(CONVERT(7 , CHAR) USING utf8) AS c")) == [("7",)]


def test_ansi_quotes_mode(eng):
    """sql_mode='ANSI_QUOTES': double quotes delimit identifiers, single
    quotes stay strings (reference ansi_quotes_queries.go)."""
    eng.query("SET sql_mode = 'ANSI_QUOTES'")
    try:
        assert rows(eng.query('SELECT "i" FROM "mytable" WHERE "s" = '
                              "'first row'")) == [(1,)]
        eng.query('CREATE TABLE "aqt" ("thekey" BIGINT PRIMARY KEY, '
                  '"v" VARCHAR(10))')
        eng.query('INSERT INTO "aqt" VALUES (1, \'x\')')
        assert rows(eng.query('SELECT "thekey", "v" FROM "aqt"')) == [
            (1, "x")]
        # without the mode, "i" is a plain string literal again
        eng.query("SET sql_mode = 'STRICT_TRANS_TABLES'")
        assert rows(eng.query('SELECT "i" AS c FROM mytable LIMIT 1')) == [
            ("i",)]
    finally:
        eng.query("SET sql_mode = 'STRICT_TRANS_TABLES'")


def test_register_aggregate_and_function(eng):
    """Integrator registration surface (reference engine.go:116-122):
    custom scalar and custom aggregation, both SQL-callable. The UDAF runs
    as a grouped-agg pandas UDF — one Python call per group per partition,
    not per row."""
    import pandas as pd

    eng.register_function("shout_udf", lambda s: None if s is None
                          else str(s).upper() + "!", "string")

    def wsum(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum())

    eng.register_aggregate("wsum_udaf", wsum, "double")
    eng.query("DROP TABLE IF EXISTS udafreg")
    eng.query("CREATE TABLE udafreg (g VARCHAR(4), v DOUBLE, w DOUBLE)")
    eng.query("INSERT INTO udafreg VALUES ('a', 1, 2), ('a', 3, 4), "
              "('b', 5, 6)")
    assert rows(eng.query(
        "SELECT g, wsum_udaf(v, w) AS s, shout_udf(g) AS u FROM udafreg "
        "GROUP BY g ORDER BY g")) == [("a", 14.0, "A!"), ("b", 30.0, "B!")]


def test_fulltext_index_dml_maintenance(eng):
    """DML-then-MATCH script (reference sql/fulltext/multi_editor.go):
    INSERT maintains the postings incrementally; UPDATE/DELETE repair
    lazily at the next MATCH; REPLACE overwrites a doc's postings."""
    eng.query("DROP TABLE IF EXISTS ftmx")
    eng.query("CREATE TABLE ftmx (id BIGINT PRIMARY KEY, body TEXT)")
    eng.query("INSERT INTO ftmx VALUES (1, 'spark join window spark'), "
              "(2, 'window only here'), (3, 'nothing relevant')")
    eng.query("CREATE FULLTEXT INDEX ft_body ON ftmx (body)")
    q = ("SELECT id, MATCH(body) AGAINST('spark window') AS rel "
         "FROM ftmx ORDER BY id")
    assert rows(eng.query(q)) == [(1, 3), (2, 1), (3, 0)]
    # incremental insert — only the delta is tokenized
    eng.query("INSERT INTO ftmx VALUES (4, 'spark spark spark')")
    assert rows(eng.query(q)) == [(1, 3), (2, 1), (3, 0), (4, 3)]
    # REPLACE overwrites doc 4's postings
    eng.query("REPLACE INTO ftmx VALUES (4, 'window')")
    assert rows(eng.query(q)) == [(1, 3), (2, 1), (3, 0), (4, 1)]
    # UPDATE / DELETE: staleness detected, index rebuilt at next MATCH
    eng.query("UPDATE ftmx SET body = 'silence' WHERE id = 1")
    eng.query("DELETE FROM ftmx WHERE id = 2")
    assert rows(eng.query(q)) == [(1, 0), (3, 0), (4, 1)]
    # boolean mode through the index
    assert rows(eng.query(
        "SELECT id FROM ftmx "
        "WHERE MATCH(body) AGAINST('+window -spark' IN BOOLEAN MODE) "
        "ORDER BY id")) == [(4,)]
    # bare WHERE predicate means relevance > 0
    assert rows(eng.query(
        "SELECT id FROM ftmx WHERE MATCH(body) AGAINST('window') "
        "ORDER BY id")) == [(4,)]


def test_fulltext_fallback_without_index(eng):
    """MATCH on an unindexed column: on-the-fly tokenize expression
    (reference matchagainst.go computes relevance without an index the
    same way)."""
    eng.query("DROP TABLE IF EXISTS ftnx")
    eng.query("CREATE TABLE ftnx (id BIGINT PRIMARY KEY, s TEXT)")
    eng.query("INSERT INTO ftnx VALUES (1, 'alpha beta'), (2, 'gamma')")
    assert rows(eng.query(
        "SELECT id, MATCH(s) AGAINST('beta gamma') AS rel FROM ftnx "
        "ORDER BY id")) == [(1, 1), (2, 1)]


def test_async_recurring_event_fires_unattended(eng):
    """ON SCHEDULE EVERY 1 SECOND under the background scheduler: the
    event fires repeatedly with NO intervening statement (reference
    eventscheduler/event_scheduler.go executes on its own goroutine), and
    LAST_EXECUTED bookkeeping records each firing
    (eventscheduler/event_executor.go)."""
    import time

    eng.query("DROP TABLE IF EXISTS evtr")
    eng.query("CREATE TABLE evtr (i BIGINT)")
    eng.query("CREATE EVENT bg_tick ON SCHEDULE EVERY 1 SECOND "
              "DO INSERT INTO evtr VALUES (1)")
    eng.query("SET GLOBAL event_scheduler = ON")
    try:
        deadline = time.time() + 25
        # poll engine STATE only — no eng.query() calls, so firings can
        # come only from the scheduler thread
        while time.time() < deadline:
            ev = eng.events.get("bg_tick")
            if ev is not None and ev.last_executed is not None and \
                    eng._db(None)["evtr"].df.count() >= 2:
                break
            time.sleep(0.2)
        ev = eng.events["bg_tick"]
        assert ev.last_executed is not None, "recurring event never fired"
        assert eng._db(None)["evtr"].df.count() >= 2, "expected >=2 firings"
    finally:
        eng.query("SET GLOBAL event_scheduler = OFF")
        eng.query("DROP EVENT bg_tick")
    # LAST_EXECUTED surfaced by SHOW EVENTS (for remaining events)
    out = eng.query("SHOW EVENTS")
    assert "Last_Executed" in out.columns


def test_ja_collation_order_and_equality(eng):
    """utf8mb4_ja_0900_as_cs through SQL text (reference
    sql/encodings/generate/utf8mb4_ja_0900_as_cs.go weights): accent-
    sensitive (か<が), kana-insensitive (からす=カラス), case-sensitive
    latin (a<A), kanji by ICU weight."""
    eng.query("DROP TABLE IF EXISTS jat")
    eng.query("CREATE TABLE jat (id BIGINT PRIMARY KEY, s VARCHAR(40))")
    eng.query("INSERT INTO jat VALUES (1,'ガラス'),(2,'からす'),"
              "(3,'カラス'),(4,'がらす'),(5,'さくら'),(6,'アート'),"
              "(7,'日本'),(8,'abc'),(9,'ABC')")
    assert [r[0] for r in rows(eng.query(
        "SELECT s FROM jat ORDER BY s COLLATE utf8mb4_ja_0900_as_cs, id"
    ))] == ["abc", "ABC", "アート", "からす", "カラス", "ガラス",
            "がらす", "さくら", "日本"]
    assert rows(eng.query(
        "SELECT id FROM jat WHERE s COLLATE utf8mb4_ja_0900_as_cs = "
        "'カラス' COLLATE utf8mb4_ja_0900_as_cs ORDER BY id")) == [
        (2,), (3,)]


# -- snapshot compaction: every DML snapshot is narrow-coalesced to the
# partition count a file scan of its bytes would get

def _partitions(df):
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def test_empty_table_reads_without_partitions(spark):
    """A freshly created table is an empty local relation: reading it
    runs at most one task, not one per default-parallelism slice, and
    the declared nullability survives."""
    e = Engine(spark)
    e.query("CREATE TABLE fresh (k BIGINT PRIMARY KEY, "
            "v VARCHAR(8) NOT NULL, n BIGINT)")
    df = e.query("SELECT * FROM fresh")
    assert _partitions(df) <= 1
    assert rows(df) == []
    assert [f.nullable for f in df.schema.fields] == [False, False, True]
    e.query("INSERT INTO fresh VALUES (1, 'a', NULL)")
    assert rows(e.query("SELECT * FROM fresh")) == [(1, "a", None)]


def test_dml_snapshots_compact_to_one_partition(spark):
    """Each single-row INSERT adds a partition to the checkpointed
    snapshot; a small table is compacted back to one, keeping the row
    order of an unordered scan and every AS OF version."""
    e = Engine(spark)
    e.query("CREATE TABLE cmp (k BIGINT PRIMARY KEY, v VARCHAR(16) NOT NULL)")
    for k in range(30):
        e.query(f"INSERT INTO cmp VALUES ({k}, 'v{k}')")
    e.query("UPDATE cmp SET v = 'updated' WHERE k = 5")
    e.query("DELETE FROM cmp WHERE k = 7")
    df = e.query("SELECT * FROM cmp")
    assert _partitions(df) == 1
    # the order the uncompacted snapshots scanned in: insertion order,
    # the UPDATE in place
    assert rows(df) == [(k, "updated" if k == 5 else f"v{k}")
                        for k in range(30) if k != 7]
    # version 0 is the CREATE, n the n-th INSERT, 31 the UPDATE, 32 the
    # DELETE
    for version in range(31):
        assert rows(e.query(
            f"SELECT COUNT(*) AS c FROM cmp AS OF {version}")) == [
            (version,)]
    assert rows(e.query("SELECT v FROM cmp AS OF 30 WHERE k = 5")) == [
        ("v5",)]
    assert rows(e.query("SELECT v FROM cmp AS OF 31 WHERE k = 5")) == [
        ("updated",)]
    assert rows(e.query("SELECT COUNT(*) AS c FROM cmp AS OF 32")) == [
        (29,)]


def test_large_insert_select_keeps_parallel_partitions(spark, monkeypatch):
    """Compaction follows the bytes: after an INSERT ... SELECT of sf0.1
    lineitem (600k rows) the table keeps min(defaultParallelism,
    checkpoint partitions) partitions, so it still scans in parallel."""
    import os

    from tests.conftest import SF_DIR

    seen = []
    compact = Engine._compact

    def spy(self, df):
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            seen.append(plan.rdd().getNumPartitions())
        return compact(self, df)

    monkeypatch.setattr(Engine, "_compact", spy)
    spark.read.parquet(os.path.join(
        os.path.dirname(SF_DIR), "sf0.1", "lineitem.parquet")
    ).createOrReplaceTempView("lineitem_sf01")
    e = Engine(spark)
    e.query("CREATE TABLE li (l_orderkey BIGINT, l_partkey BIGINT, "
            "l_quantity DOUBLE, l_returnflag VARCHAR(1))")
    e.query("INSERT INTO li SELECT l_orderkey, l_partkey, l_quantity, "
            "l_returnflag FROM lineitem_sf01")
    df = e.query("SELECT * FROM li")
    assert seen and seen[-1] > 1
    assert _partitions(df) == min(spark.sparkContext.defaultParallelism,
                                  seen[-1])
    assert rows(e.query("SELECT COUNT(*) AS c FROM li")) == [(600000,)]
    e.query("DROP TABLE li")


# ---- one table-element parser: CREATE TABLE, ALTER TABLE, CREATE INDEX ------


@pytest.mark.parametrize("ddl", [
    ["CREATE TABLE kp (a VARCHAR(20), b INT, KEY kab (a(10), b))"],
    ["CREATE TABLE kp (a VARCHAR(20), b INT)",
     "CREATE INDEX kab ON kp (a(10), b)"],
    ["CREATE TABLE kp (a VARCHAR(20), b INT)",
     "ALTER TABLE kp ADD INDEX kab (a(10), b)"],
    ["CREATE TABLE kp (a VARCHAR(20), b INT)",
     "ALTER TABLE kp ADD CONSTRAINT kab UNIQUE (a(10), b)"],
], ids=["inline_key", "create_index", "alter_add_index", "alter_add_unique"])
def test_key_part_list_spellings(eng, ddl):
    """A prefix length drops from the key part the same way whichever
    statement declares the index."""
    for s in ddl:
        eng.query(s)
    got = rows(eng.query("SHOW INDEX FROM kp"))
    assert [(r[2], r[3], r[4]) for r in got] == [
        ("kab", 1, "a"), ("kab", 2, "b")]


@pytest.mark.parametrize("rename", ["CHANGE b bb INT",
                                    "RENAME COLUMN b TO c"])
def test_unique_index_follows_column_rename(eng, rename):
    eng.query("CREATE TABLE ur1 (a INT, b INT UNIQUE)")
    eng.query(f"ALTER TABLE ur1 {rename}")
    with pytest.raises(SqlError, match="duplicate entry"):
        eng.query("INSERT INTO ur1 VALUES (1, 5), (2, 5)")


def test_rename_and_drop_column_follow_through(eng):
    """A renamed column keeps its place in other tables' FOREIGN KEYs; a
    dropped column leaves every index, and an index left empty goes."""
    eng.query("CREATE TABLE fp (a INT PRIMARY KEY, b INT, c INT, "
              "KEY kb (b), KEY kbc (b, c))")
    eng.query("CREATE TABLE fc (x INT, FOREIGN KEY (x) REFERENCES fp(a))")
    eng.query("ALTER TABLE fp RENAME COLUMN a TO z")
    got = rows(eng.query(
        "SELECT REFERENCED_COLUMN_NAME FROM information_schema."
        "key_column_usage WHERE TABLE_NAME = 'fc' "
        "AND REFERENCED_TABLE_NAME IS NOT NULL"))
    assert got == [("z",)]
    eng.query("ALTER TABLE fp DROP COLUMN b")
    got = rows(eng.query("SHOW INDEX FROM fp"))
    assert [(r[2], r[4]) for r in got] == [("PRIMARY", "z"), ("kbc", "c")]


def _alter_add_unique(e):
    e.query("ALTER TABLE ag ADD COLUMN b INT UNIQUE")
    with pytest.raises(SqlError, match="duplicate entry"):
        e.query("INSERT INTO ag VALUES (2, 5), (3, 5)")


def _alter_add_check(e):
    e.query("ALTER TABLE ag ADD COLUMN c INT CHECK (c > 0)")
    with pytest.raises(SqlError, match="CHECK"):
        e.query("INSERT INTO ag VALUES (2, -5)")


def _alter_modify_fsp(e):
    e.query("ALTER TABLE ag ADD COLUMN d DATETIME(3)")
    e.query("ALTER TABLE ag MODIFY d DATETIME(6)")
    e.query("INSERT INTO ag VALUES (2, '2020-01-02 03:04:05.123456')")
    got = rows(e.query("SELECT d FROM ag WHERE a = 2"))
    assert got[0][0].microsecond == 123456


def _alter_add_spatial(e):
    e.query("ALTER TABLE ag ADD COLUMN g GEOMETRY")
    e.query("ALTER TABLE ag ADD SPATIAL INDEX sg (g)")
    got = rows(e.query("SHOW INDEX FROM ag"))
    assert [(r[2], r[4], r[5]) for r in got] == [("sg", "g", "SPATIAL")]


@pytest.mark.parametrize("case", [_alter_add_unique, _alter_add_check,
                                  _alter_modify_fsp, _alter_add_spatial],
                         ids=lambda f: f.__name__.lstrip("_"))
def test_alter_takes_full_column_grammar(eng, case):
    """ADD COLUMN and MODIFY parse a column exactly as CREATE TABLE does:
    inline UNIQUE and CHECK bind, and the type's precision is restated."""
    eng.query("CREATE TABLE ag (a INT)")
    eng.query("INSERT INTO ag VALUES (1)")
    case(eng)


def test_unnamed_index_names(eng):
    """An unnamed index takes its first column's name, suffixed _2, _3, …
    on a clash, in CREATE TABLE and ALTER TABLE alike (MySQL)."""
    eng.query("CREATE TABLE nm (a INT, b INT, KEY (a), KEY (a, b), "
              "UNIQUE (b), c INT UNIQUE)")
    eng.query("ALTER TABLE nm ADD INDEX (a), ADD COLUMN d INT UNIQUE")
    got = rows(eng.query("SHOW INDEX FROM nm"))
    assert [(r[2], r[3], r[4]) for r in got] == [
        ("a", 1, "a"), ("a_2", 1, "a"), ("a_2", 2, "b"), ("b", 1, "b"),
        ("c", 1, "c"), ("a_3", 1, "a"), ("d", 1, "d")]


@pytest.mark.parametrize("action", [
    "ALTER COLUMN s SET DEFAULT 'x'", "ALTER COLUMN s DROP DEFAULT",
    "AUTO_INCREMENT = 10", "COMMENT = 'x'", "ENGINE = InnoDB",
    "COLLATE utf8mb4_bin", "ADD CHECK (i > 0)",
    "ADD CONSTRAINT ck CHECK (i > 0), DROP CHECK ck",
    "ADD FOREIGN KEY (i) REFERENCES mytable(i)",
    "ADD INDEX ks (s), RENAME INDEX ks TO ks2",
])
def test_metadata_only_alter_keeps_snapshot(eng, action):
    """An ALTER that leaves the rows alone does not re-checkpoint the
    table: its snapshot stays the same DataFrame."""
    before = eng._table("mytable").df
    eng.query(f"ALTER TABLE mytable {action}")
    assert eng._table("mytable").df is before
    assert rows(eng.query("SELECT COUNT(*) AS c FROM mytable")) == [(3,)]


# One key rule: PRIMARY KEY and UNIQUE keys follow the same rule on every
# write. Each key variant is a (name, columns, key) triple; `id` gives the
# UNIQUE variants the primary key a multi-table UPDATE needs. Every table
# starts as _SEED, and `src` feeds the UPDATE JOIN.
_KEY_VARIANTS = {
    "primary": ("PRIMARY", "a INT, b INT, c INT", "PRIMARY KEY (a)"),
    "unique": ("uk", "id INT AUTO_INCREMENT PRIMARY KEY, a INT, b INT, "
               "c INT", "UNIQUE KEY uk (a)"),
    "composite_null": ("uab", "id INT AUTO_INCREMENT PRIMARY KEY, a INT, "
                       "b INT, c INT", "UNIQUE KEY uab (a, b)"),
}
_SEED = [(1, 1, 1), (2, None, 2)]
_LOAD_ROWS = "1,1,9\n3,3,9\n"
# cell: (statements, {variant or "*": expected}); expected is the start
# of the error the last statement raises (_DUP for a key) or (affected
# rows of the last statement, final rows). `{cols}` and `{add}` are the
# variant's columns and key, `{csv}` a file holding _LOAD_ROWS. A cell whose first statement is a CREATE
# starts from the table without its key. test_key_error_names_the_key
# pins the full error.
_DUP = "duplicate"
_KEY_CELLS = {
    "insert": (["INSERT INTO kt (a, b, c) VALUES (1, 1, 9)"],
               {"*": _DUP}),
    "insert_batch": (["INSERT INTO kt (a, b, c) VALUES (3, 3, 9), (3, 3, 8)"],
                     {"*": _DUP}),
    "insert_null_part": (
        ["INSERT INTO kt (a, b, c) VALUES (2, NULL, 9)"],
        {"*": _DUP, "composite_null": (1, _SEED + [(2, None, 9)])}),
    "ignore": (["INSERT IGNORE INTO kt (a, b, c) VALUES (1, 1, 9), (3, 3, 9)"],
               {"*": (1, _SEED + [(3, 3, 9)])}),
    "ignore_batch": (
        ["INSERT IGNORE INTO kt (a, b, c) VALUES (3, 3, 9), (3, 3, 8)"],
        {"*": (1, _SEED + [(3, 3, 9)])}),
    "replace": (["REPLACE INTO kt (a, b, c) VALUES (1, 1, 9), (3, 3, 9), "
                 "(3, 3, 8)"],
                {"*": (5, [(1, 1, 9), (2, None, 2), (3, 3, 8)])}),
    "odku": (["INSERT INTO kt (a, b, c) VALUES (1, 1, 9), (3, 3, 9), "
              "(3, 3, 8) ON DUPLICATE KEY UPDATE c = c + 10"],
             {"*": (5, [(1, 1, 11), (2, None, 2), (3, 3, 19)])}),
    "odku_unchanged": (["INSERT INTO kt (a, b, c) VALUES (1, 1, 9) "
                        "ON DUPLICATE KEY UPDATE c = c"],
                       {"*": (0, _SEED)}),
    "load_data": (["LOAD DATA INFILE '{csv}' INTO TABLE kt "
                   "FIELDS TERMINATED BY ',' (a, b, c)"],
                  {"*": _DUP}),
    "load_data_ignore": (["LOAD DATA INFILE '{csv}' IGNORE INTO TABLE kt "
                          "FIELDS TERMINATED BY ',' (a, b, c)"],
                         {"*": (1, _SEED + [(3, 3, 9)])}),
    "update": (["UPDATE kt SET a = 1, b = 1 WHERE c = 2"], {"*": _DUP}),
    "update_null_part": (
        ["UPDATE kt SET a = 1 WHERE c = 2"],
        {"*": _DUP, "composite_null": (1, [(1, 1, 1), (1, None, 2)])}),
    "update_shift": (["UPDATE kt SET a = a + 1"],
                     {"*": (2, [(2, 1, 1), (3, None, 2)])}),
    # UPDATE reports the rows it matched, the skipped one included
    "update_ignore": (
        ["UPDATE IGNORE kt SET a = 1 WHERE c = 2"],
        {"*": (1, _SEED), "composite_null": (1, [(1, 1, 1), (1, None, 2)])}),
    "update_join": (
        ["UPDATE kt JOIN src ON kt.c = src.c SET kt.a = src.a"],
        {"*": _DUP, "composite_null": (2, [(5, 1, 1), (5, None, 2)])}),
    "alter_add": (
        ["CREATE TABLE kt ({cols})",
         "INSERT INTO kt (a, b, c) VALUES (1, 1, 1), (2, NULL, 2), "
         "(2, NULL, 3)", "ALTER TABLE kt ADD {add}"],
        {"*": _DUP, "composite_null": (0, _SEED + [(2, None, 3)])}),
    "alter_add_repeat": (
        ["CREATE TABLE kt ({cols})",
         "INSERT INTO kt (a, b, c) VALUES (1, 1, 1), (2, NULL, 2), "
         "(1, 1, 3)", "ALTER TABLE kt ADD {add}"],
        {"*": _DUP}),
    # a primary key's columns become NOT NULL: MySQL's
    # ER_INVALID_USE_OF_NULL; a UNIQUE key lets NULLs be
    "alter_add_null": (
        ["CREATE TABLE kt ({cols})",
         "INSERT INTO kt (a, b, c) VALUES (1, 1, 1), (NULL, 2, 2)",
         "ALTER TABLE kt ADD {add}"],
        {"*": (0, [(None, 2, 2), (1, 1, 1)]),
         "primary": "Invalid use of NULL value"}),
}


@pytest.mark.parametrize("variant", list(_KEY_VARIANTS))
@pytest.mark.parametrize("cell", list(_KEY_CELLS))
def test_key_rule(spark, tmp_path, cell, variant):
    """Every verb enforces PRIMARY and UNIQUE keys alike: a failing
    statement raises and changes nothing; a NULL key part never
    repeats a key; IGNORE, REPLACE and ON DUPLICATE KEY UPDATE report
    affected rows as MySQL does."""
    name, cols, key = _KEY_VARIANTS[variant]
    stmts, expect = _KEY_CELLS[cell]
    want = expect.get(variant, expect.get("*"))
    csv = tmp_path / "rows.csv"
    csv.write_text(_LOAD_ROWS)
    e = Engine(spark)
    e.query("CREATE TABLE src (c INT PRIMARY KEY, a INT)")
    e.query("INSERT INTO src VALUES (1, 5), (2, 5)")
    if not stmts[0].startswith("CREATE"):
        e.query(f"CREATE TABLE kt ({cols}, {key})")
        e.query("INSERT INTO kt (a, b, c) VALUES (1, 1, 1), (2, NULL, 2)")
    stmts = [s.format(cols=cols, add=key, csv=csv) for s in stmts]
    for s in stmts[:-1]:
        e.query(s)
    if isinstance(want, str):
        before = rows(e.query("SELECT a, b, c FROM kt ORDER BY a, c"))
        with pytest.raises(SqlError) as err:
            e.query(stmts[-1])
        assert str(err.value).startswith(want)
        final = before
    else:
        assert e.query(stmts[-1]).rows_affected == want[0]
        final = want[1]
    assert rows(e.query("SELECT a, b, c FROM kt ORDER BY a, c")) == final


@pytest.mark.parametrize("variant", list(_KEY_VARIANTS))
def test_key_error_names_the_key(spark, variant):
    """Every key failure is one error: MySQL's ER_DUP_ENTRY (1062,
    SQLSTATE 23000) naming the key, PRIMARY for the primary key."""
    name, cols, key = _KEY_VARIANTS[variant]
    e = Engine(spark)
    e.query(f"CREATE TABLE kt ({cols}, {key})")
    e.query("INSERT INTO kt (a, b, c) VALUES (1, 1, 1)")
    with pytest.raises(SqlError) as err:
        e.query("INSERT INTO kt (a, b, c) VALUES (1, 1, 2)")
    assert str(err.value) == f"duplicate entry for key '{name}'"
    assert (err.value.errno, err.value.sqlstate) == (1062, "23000")


# (row, error) pairs: each row breaks every rule from its error on
# (row, the error it reports, that error's errno)
_CHECK_ORDER = [pytest.param(*p, id=i) for p, i in [
    (("300, 1, NULL, 'z', -1, 9", "out of range value for column 'k'",
      1264), "int_bounds"),
    (("1, 1, NULL, 'z', -1, 9", "column 'n' cannot be null", 1048),
     "not_null"),
    (("1, 1, 1, 'z', -1, 9", "invalid ENUM value for column 'e'", 1265),
     "enum"),
    (("1, 1, 1, 'x', -1, 9", "CHECK constraint violated: c > 0", 3819),
     "check"),
    (("1, 1, 1, 'x', 1, 9", "FK violation", 1452), "fk"),
    (("1, 1, 1, 'x', 1, 1", "duplicate entry for key 'PRIMARY'", 1062),
     "primary"),
    (("2, 1, 1, 'x', 1, 1", "duplicate entry for key 'uk'", 1062),
     "unique"),
]]
_CHECK_ORDER_TABLES = [
    "CREATE TABLE par (p INT PRIMARY KEY)", "INSERT INTO par VALUES (1)",
    "CREATE TABLE pc (k TINYINT PRIMARY KEY, u INT, n INT NOT NULL, "
    "e ENUM('x', 'y'), c INT CHECK (c > 0), f INT, "
    "UNIQUE KEY uk (u), FOREIGN KEY (f) REFERENCES par (p))",
    "INSERT INTO pc VALUES (1, 1, 1, 'x', 1, 1)"]


@pytest.mark.parametrize("row, error, errno", _CHECK_ORDER)
def test_key_check_order(spark, row, error, errno):
    """A row breaking several rules reports the first in MySQL's order:
    integer bounds, then NOT NULL / ENUM / SET / CHECK, then foreign
    keys, then keys with PRIMARY before UNIQUE."""
    e = Engine(spark)
    for s in _CHECK_ORDER_TABLES:
        e.query(s)
    with pytest.raises(SqlError) as err:
        e.query(f"INSERT INTO pc VALUES ({row})")
    assert str(err.value).startswith(error)
    assert err.value.errno == errno
    assert rows(e.query("SELECT * FROM pc")) == [(1, 1, 1, "x", 1, 1)]


@pytest.mark.parametrize("variant", list(_KEY_VARIANTS))
@pytest.mark.parametrize("action", ["RENAME COLUMN a TO a2", "DROP KEY",
                                    "RENAME TO kt2"])
def test_failed_alter_keeps_keys(spark, variant, action):
    """An ALTER whose later action fails leaves the table's keys and the
    FOREIGN KEYs naming it as they were: the key is still enforced."""
    name, cols, key = _KEY_VARIANTS[variant]
    e = Engine(spark)
    e.query(f"CREATE TABLE kt ({cols}, {key})")
    e.query("INSERT INTO kt (a, b, c) VALUES (1, 1, 1), (2, NULL, 1)")
    e.query("CREATE TABLE ch (x INT, FOREIGN KEY (x) REFERENCES kt (a))")
    if action == "DROP KEY":
        action = ("DROP PRIMARY KEY" if name == "PRIMARY"
                  else f"DROP INDEX {name}")
    with pytest.raises(SqlError, match="duplicate entry for key 'uc'"):
        e.query(f"ALTER TABLE kt {action}, ADD UNIQUE KEY uc (c)")
    with pytest.raises(SqlError, match=f"duplicate entry for key '{name}'"):
        e.query("INSERT INTO kt (a, b, c) VALUES (1, 1, 7)")
    assert e._table("ch").foreign_keys[0].parent_columns == ("a",)
    assert rows(e.query("SELECT a, b, c FROM kt ORDER BY a")) == \
        [(1, 1, 1), (2, None, 1)]


def test_update_join_duplicate_leaves_children(spark):
    """A multi-table UPDATE that breaks the target's key leaves the rows
    an ON UPDATE CASCADE would have rewritten as they were."""
    e = Engine(spark)
    e.query("CREATE TABLE p (k INT PRIMARY KEY, v INT)")
    e.query("INSERT INTO p VALUES (1, 1), (2, 2)")
    e.query("CREATE TABLE ch (id INT PRIMARY KEY, pid INT, FOREIGN KEY "
            "(pid) REFERENCES p (k) ON UPDATE CASCADE)")
    e.query("INSERT INTO ch VALUES (10, 1), (20, 2)")
    e.query("CREATE TABLE s (v INT PRIMARY KEY, x INT)")
    e.query("INSERT INTO s VALUES (1, 7), (2, 7)")
    with pytest.raises(SqlError, match="duplicate entry for key 'PRIMARY'"):
        e.query("UPDATE p JOIN s ON p.v = s.v SET p.k = s.x")
    assert rows(e.query("SELECT k, v FROM p ORDER BY k")) == [(1, 1), (2, 2)]
    assert rows(e.query("SELECT id, pid FROM ch ORDER BY id")) == \
        [(10, 1), (20, 2)]
    assert e.query("UPDATE p JOIN s ON p.v = s.v "
                   "SET p.k = s.x + p.k").rows_affected == 2
    assert rows(e.query("SELECT id, pid FROM ch ORDER BY id")) == \
        [(10, 8), (20, 9)]


def test_functional_unique_key_on_rows(spark):
    """A UNIQUE key with an expression part binds on a table with rows;
    its expression is not checked, as on writes."""
    e = Engine(spark)
    e.query("CREATE TABLE fk (a INT, c VARCHAR(10))")
    e.query("INSERT INTO fk VALUES (1, 'A'), (2, 'a')")
    e.query("CREATE UNIQUE INDEX ux ON fk ((LOWER(c)))")
    e.query("ALTER TABLE fk ADD UNIQUE (a, (a * 10))")
    assert [ix.unique for ix in e._table("fk").indexes] == [True, True]
    assert e.query("INSERT INTO fk VALUES (3, 'A')").rows_affected == 1
