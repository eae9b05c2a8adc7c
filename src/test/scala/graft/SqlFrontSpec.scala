package graft

import graft.interp.{Dashboard, Statements}
import graft.sqlfront.{Dialect, Gate, SqlText}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger
import scala.util.Random
import scala.util.matching.Regex

/** Gate + text-utility tests transliterated from the reference suites
  * (server/core/sql_validation_test.go:12-150, server/util/util_test.go). */
class SqlFrontSpec extends AnyFunSuite {

  private val dashboardCases: Seq[(String, Boolean)] = Seq(
    // Basic Allowed
    "SELECT * FROM users" -> true,
    "SUMMARIZE SELECT 1" -> true,
    "DESCRIBE users" -> true,
    "SHOW TABLES" -> true,
    "SHOW ALL TABLES" -> true,
    "EXPLAIN SELECT 1" -> true,
    "EXPLAIN ANALYZE SELECT 1" -> true,
    "PIVOT sales ON region USING SUM(amount)" -> true,
    "UNPIVOT sales ON region USING SUM(amount)" -> true,
    // Basic Disallowed
    "DROP TABLE users" -> false,
    "DELETE FROM users" -> false,
    "INSERT INTO users VALUES (1)" -> false,
    "UPDATE users SET name = 'foo'" -> false,
    "CREATE TABLE users (id INT)" -> false,
    "ALTER TABLE users ADD COLUMN name TEXT" -> false,
    // Side effects
    "SET VARIABLE x = 1" -> true,
    "USE other" -> true,
    "CREATE TEMPORARY TABLE foo AS SELECT 1" -> true,
    "BEGIN TRANSACTION" -> true,
    "COMMIT" -> true,
    // WITH
    "WITH t AS (SELECT 1) SELECT * FROM t" -> true,
    "WITH RECURSIVE t AS (SELECT 1) SELECT * FROM t" -> true,
    "WITH t1 AS (SELECT 1), t2 AS (SELECT 2) SELECT * FROM t1, t2" -> true,
    "WITH t AS (DROP TABLE x) SELECT 1" -> false,
    "WITH t AS (SELECT 1) DROP TABLE x" -> false,
    "WITH t(a, b) AS (SELECT 1, 2) SELECT * FROM t" -> true,
    "WITH \"my table\" AS (SELECT 1) SELECT * FROM \"my table\"" -> true,
    // Nested
    "(SELECT 1)" -> true,
    "(SELECT 1) UNION SELECT 2" -> true,
    "(SELECT 1) UNION ALL SELECT 2" -> true,
    "((SELECT 1) UNION (SELECT 2))" -> true,
    "(SELECT 1) UNION (DROP TABLE x)" -> false,
    "(DROP TABLE x)" -> false,
    // Explain
    "EXPLAIN" -> true,
    "EXPLAIN ANALYZE" -> true,
    "EXPLAIN DROP TABLE x" -> false,
    "EXPLAIN ANALYZE DROP TABLE x" -> false,
    // Edge cases
    "   SELECT 1" -> true,
    "\nSELECT\n1" -> true,
    "SELECT 1;" -> true,
    "SELECT \"DROP\" FROM t" -> true,
    "SETTINGS" -> false,
    "" -> true,
    "   " -> true)

  test("dashboard gate matrix (sql_validation_test.go:12-83)") {
    dashboardCases.foreach { case (sql, expected) =>
      assert(Gate.isAllowedStatement(sql) == expected, s"SQL: $sql")
    }
  }

  private val taskCases: Seq[(String, Boolean)] = Seq(
    "SELECT * FROM users" -> true,
    "INSERT INTO users VALUES (1)" -> true,
    "UPDATE users SET name = 'foo'" -> true,
    "DELETE FROM users" -> true,
    "CREATE TABLE users (id INT)" -> true,
    "DROP TABLE users" -> true,
    "INSTALL httpfs" -> true,
    "LOAD httpfs" -> true,
    "SET threads = 4" -> false,
    "RESET threads" -> false,
    "ATTACH 'file.db' AS other" -> true,
    "DETACH other" -> true,
    "CREATE SECRET (TYPE S3)" -> true,
    "PRAGMA threads=4" -> false,
    "SET VARIABLE x = 1" -> true,
    "RESET VARIABLE x" -> true,
    "BEGIN TRANSACTION" -> true,
    "COMMIT" -> true,
    "WITH t AS (SELECT 1) SELECT * FROM t" -> true,
    "WITH t AS (SELECT 1) INSTALL httpfs" -> true,
    "WITH t AS (INSTALL httpfs) SELECT 1" -> true,
    "(SELECT 1)" -> true,
    "(SELECT 1) UNION SELECT 2" -> true,
    "(SELECT 1) UNION (INSTALL httpfs)" -> true)

  test("task gate matrix (sql_validation_test.go:85-150)") {
    taskCases.foreach { case (sql, expected) =>
      assert(Gate.isAllowedTaskStatement(sql) == expected, s"SQL: $sql")
    }
  }

  test("ATTACH is side-effect only in in-memory mode (sql_validation_test.go:152-158)") {
    assert(Gate.isAllowedStatement("ATTACH 'data.db' AS data"))
    assert(!Gate.isAllowedStatementStrict("ATTACH 'data.db' AS data"))
  }

  test("strip comments respects quotes") {
    assert(SqlText.stripComments("SELECT 1 -- comment\n, 2") == "SELECT 1 \n, 2")
    assert(SqlText.stripComments("SELECT '--not' -- real\n") == "SELECT '--not' \n")
    assert(SqlText.stripComments("SELECT \"a--b\" FROM t") == "SELECT \"a--b\" FROM t")
    assert(SqlText.stripComments("SELECT 'it''s -- fine' --x") == "SELECT 'it''s -- fine' ")
  }

  test("split queries on ; outside quotes, tracks unclosed quotes") {
    assert(SqlText.splitQueries("SELECT 1; SELECT 2") == Right(Seq("SELECT 1", "SELECT 2")))
    assert(SqlText.splitQueries("SELECT 'a;b'; SELECT 2") == Right(Seq("SELECT 'a;b'", "SELECT 2")))
    assert(SqlText.splitQueries("SELECT 'a''x;y'").isRight)
    assert(SqlText.splitQueries("SELECT 'oops").isLeft)
    assert(SqlText.splitQueries("SELECT \"oops").isLeft)
  }

  test("escape SQL string/identifier") {
    assert(SqlText.escapeSQLString("it's") == "it''s")
    assert(SqlText.escapeSQLString("a\nb") == "a b")
    assert(SqlText.escapeSQLIdentifier("my\"name") == "my\"\"name")
  }

  test("WITH splitter extracts CTE bodies (sql_validation_test.go:160-226)") {
    val Right((main, ctes)) =
      Gate.splitWithStatement("WITH t AS (SELECT 1), u(a) AS (SELECT 2) SELECT * FROM t")
    assert(ctes == Seq("SELECT 1", "SELECT 2"))
    assert(main == "SELECT * FROM t")
  }

  test("::TYPE rewrite for shaper types") {
    assert(Dialect.rewriteShaperCasts("SELECT count(*)::BARCHART FROM t")
      == "SELECT BARCHART(count(*)) FROM t")
    assert(Dialect.rewriteShaperCasts("SELECT date_trunc('week', ts)::XAXIS AS w")
      == "SELECT XAXIS(date_trunc('week', ts)) AS w")
    assert(Dialect.rewriteShaperCasts("SELECT 'x'::TIMESTAMP::XAXIS")
      == "SELECT XAXIS('x'::TIMESTAMP)")
    assert(Dialect.rewriteShaperCasts("SELECT category::CATEGORY, t.c::COLOR FROM t")
      == "SELECT CATEGORY(category), COLOR(t.c) FROM t")
    // non-shaper casts untouched
    assert(Dialect.rewriteShaperCasts("SELECT x::INT") == "SELECT x::INT")
    // inside strings untouched
    assert(Dialect.rewriteShaperCasts("SELECT '::BARCHART'") == "SELECT '::BARCHART'")
  }

  test("count() and FROM-first rewrites") {
    assert(Dialect.rewriteCountStar("SELECT count() FROM t") == "SELECT count(*) FROM t")
    assert(Dialect.rewriteCountStar("SELECT count(x) FROM t") == "SELECT count(x) FROM t")
    assert(Dialect.rewriteFromFirst("FROM t SELECT 1") == "SELECT * FROM t SELECT 1")
    assert(Dialect.rewriteFromFirst("FROM lineitem") == "SELECT * FROM lineitem")
  }

  test("DuckDB function renames (list_max -> array_max etc.)") {
    assert(Dialect.rewriteFunctionNames("SELECT list_max(a), string_split(s, ' ')")
      == "SELECT array_max(a), split(s, ' ')")
    // bare identifiers (not calls) untouched
    assert(Dialect.rewriteFunctionNames("SELECT list_max FROM t")
      == "SELECT list_max FROM t")
    assert(Dialect.rewriteFunctionNames(
      "SELECT list_transform(l, x -> x + 1), list_filter(l, x -> x > 0)")
      == "SELECT transform(l, x -> x + 1), filter(l, x -> x > 0)")
    assert(Dialect.rewriteFunctionNames("SELECT regexp_matches(s, 'a+')")
      == "SELECT rlike(s, 'a+')")
    assert(Dialect.rewriteFunctionNames("SELECT to_timestamp(1704067200)")
      == "SELECT timestamp_seconds(1704067200)")
    assert(Dialect.rewriteFunctionNames("SELECT array_length(l)")
      == "SELECT size(l)")
    // NULL/arg-order divergent functions stay un-renamed (fail loudly)
    assert(Dialect.rewriteFunctionNames("SELECT list_prepend(1, l), list_concat(a, b)")
      == "SELECT list_prepend(1, l), list_concat(a, b)")
  }

  test("FETCH FIRST n ROWS ONLY -> LIMIT n") {
    assert(Dialect.rewriteFetch("SELECT 1 FETCH FIRST 5 ROWS ONLY") == "SELECT 1 LIMIT 5")
    assert(Dialect.rewriteFetch("SELECT 1 FETCH NEXT 1 ROW ONLY") == "SELECT 1 LIMIT 1")
    // quote-aware: the pattern inside a string literal stays untouched
    val lit = "SELECT 'use FETCH FIRST 5 ROWS ONLY here' AS doc FETCH FIRST 2 ROWS ONLY"
    assert(Dialect.rewriteFetch(lit)
      == "SELECT 'use FETCH FIRST 5 ROWS ONLY here' AS doc LIMIT 2")
  }

  test("trailing comma before FROM removed (DuckDB starter-template syntax)") {
    assert(Dialect.rewriteTrailingComma("SELECT a, b, FROM t") == "SELECT a, b FROM t")
    // the reference's own template shape: trailing comma inside a subquery
    assert(Dialect.rewriteTrailingComma("SELECT x::XAXIS, y::BARCHART, FROM (SELECT 1, FROM t)")
      == "SELECT x::XAXIS, y::BARCHART FROM (SELECT 1 FROM t)")
    // a comma not followed by FROM is untouched
    assert(Dialect.rewriteTrailingComma("SELECT a, b FROM t") == "SELECT a, b FROM t")
    assert(Dialect.rewriteTrailingComma("SELECT ', FROM x' AS s FROM t")
      == "SELECT ', FROM x' AS s FROM t")
  }

  test("bare (VALUES ...) subquery gets DuckDB col0.. names") {
    assert(Dialect.rewriteValuesAlias("SELECT col0 FROM (VALUES (1, 10), (2, 20))")
      == "SELECT col0 FROM (VALUES (1, 10), (2, 20)) __v(col0, col1)")
    // aliased subqueries untouched
    assert(Dialect.rewriteValuesAlias("SELECT a FROM (VALUES (1)) v(a)")
      == "SELECT a FROM (VALUES (1)) v(a)")
    assert(Dialect.rewriteValuesAlias("SELECT a FROM (VALUES (1)) AS v(a)")
      == "SELECT a FROM (VALUES (1)) AS v(a)")
    // non-VALUES subqueries untouched
    assert(Dialect.rewriteValuesAlias("SELECT a FROM (SELECT 1 AS a)")
      == "SELECT a FROM (SELECT 1 AS a)")
  }

  test("DuckDB interval shorthand -> Spark long units") {
    assert(Dialect.rewriteIntervalShorthand("SELECT INTERVAL '1h'")
      == "SELECT INTERVAL '1 hour'")
    assert(Dialect.rewriteIntervalShorthand("SELECT ts + INTERVAL '25h' FROM t")
      == "SELECT ts + INTERVAL '25 hour' FROM t")
    assert(Dialect.rewriteIntervalShorthand("SELECT INTERVAL '7days 1hour'")
      == "SELECT INTERVAL '7 day 1 hour'")
    // non-shorthand strings untouched
    assert(Dialect.rewriteIntervalShorthand("SELECT INTERVAL '1 banana'")
      == "SELECT INTERVAL '1 banana'")
    assert(Dialect.rewriteIntervalShorthand("SELECT '1h' AS s")
      == "SELECT '1h' AS s")
  }

  test("list comprehension -> transform/filter") {
    assert(Dialect.rewriteListComprehension("SELECT [x * 2 FOR x IN l]")
      == "SELECT transform(l, x -> x * 2)")
    assert(Dialect.rewriteListComprehension("SELECT [x * 2 FOR x IN l IF x > 1]")
      == "SELECT transform(filter(l, x -> x > 1), x -> x * 2)")
    // nested list source + condition referencing functions
    assert(Dialect.rewriteListComprehension(
      "SELECT [upper(w) FOR w IN string_split(s, ' ') IF length(w) > 2] FROM t")
      == "SELECT transform(filter(string_split(s, ' '), w -> length(w) > 2), w -> upper(w)) FROM t")
    // plain array literals untouched
    assert(Dialect.rewriteListComprehension("SELECT [1, 2, 3]") == "SELECT [1, 2, 3]")
    assert(Dialect.rewriteListComprehension("SELECT 'FOR x IN y' AS s")
      == "SELECT 'FOR x IN y' AS s")
  }

  test("strftime C-format -> date_format Java pattern") {
    assert(Dialect.rewriteStrftime("SELECT strftime(ts, '%Y-%m-%d') FROM t")
      == "SELECT date_format(ts, 'yyyy-MM-dd') FROM t")
    assert(Dialect.rewriteStrftime("SELECT strftime(ts, '%H:%M:%S') FROM t")
      == "SELECT date_format(ts, 'HH:mm:ss') FROM t")
    // literal letters get quoted for the Java pattern
    assert(Dialect.rewriteStrftime("SELECT strftime(ts, '%Yw%m')")
      == "SELECT date_format(ts, 'yyyy''w''MM')")
    // %% escapes; unknown codes leave the call untouched
    assert(Dialect.rewriteStrftime("SELECT strftime(ts, '%d%%')")
      == "SELECT date_format(ts, 'dd%')")
    assert(Dialect.rewriteStrftime("SELECT strftime(ts, '%V') FROM t")
      == "SELECT strftime(ts, '%V') FROM t")
    // nested expressions in the first argument survive
    assert(Dialect.rewriteStrftime("SELECT strftime(date_trunc('day', ts), '%Y')")
      == "SELECT date_format(date_trunc('day', ts), 'yyyy')")
  }

  test("star EXCLUDE / REPLACE -> Spark EXCEPT forms") {
    assert(Dialect.rewriteStarExclude("SELECT * EXCLUDE (a, b) FROM t")
      == "SELECT * EXCEPT (a, b) FROM t")
    // EXCLUDE as an identifier elsewhere untouched
    assert(Dialect.rewriteStarExclude("SELECT exclude FROM t")
      == "SELECT exclude FROM t")
    assert(Dialect.rewriteStarReplace("SELECT * REPLACE (id * 2 AS id) FROM t")
      == "SELECT * EXCEPT (id), id * 2 AS id FROM t")
    assert(Dialect.rewriteStarReplace("SELECT * REPLACE (x + 1 AS x, lower(k) AS k) FROM t")
      == "SELECT * EXCEPT (x, k), x + 1 AS x, lower(k) AS k FROM t")
    // replace() the function untouched
    assert(Dialect.rewriteStarReplace("SELECT replace(s, 'a', 'b') FROM t")
      == "SELECT replace(s, 'a', 'b') FROM t")
    // multiplication before replace() is NOT a star projection (advice r2):
    // every argument carrying a nested AS previously got mangled
    val mult = "SELECT x * replace(cast(a AS int), cast(b AS int)) FROM t"
    assert(Dialect.rewriteStarReplace(mult) == mult)
    // a cast's AS inside parens must not split the projection part
    assert(Dialect.rewriteStarReplace("SELECT * REPLACE (cast(a AS int) AS a) FROM t")
      == "SELECT * EXCEPT (a), cast(a AS int) AS a FROM t")
    // qualified star still rewrites
    assert(Dialect.rewriteStarReplace("SELECT t.* REPLACE (id * 2 AS id) FROM t")
      == "SELECT t.* EXCEPT (id), id * 2 AS id FROM t")
  }

  test("list_position/list_indexof rename + list_unique expansion (edge-verified vs DuckDB)") {
    assert(Dialect.rewriteFunctionNames("SELECT list_position(l, 2), list_indexof(l, 3)")
      == "SELECT array_position(l, 2), array_position(l, 3)")
    assert(Dialect.rewriteListUnique("SELECT list_unique(tags) AS n FROM t")
      == "SELECT size(array_distinct(array_compact(tags))) AS n FROM t")
    // nested call args survive
    assert(Dialect.rewriteListUnique("SELECT list_unique(split(s, ','))")
      == "SELECT size(array_distinct(array_compact(split(s, ','))))")
    // epoch_ms: BIGINT milliseconds in both engines (verified)
    assert(Dialect.rewriteFunctionNames("SELECT epoch_ms(ts) FROM t")
      == "SELECT unix_millis(ts) FROM t")
    // not a call → untouched
    assert(Dialect.rewriteFunctionNames("SELECT epoch_ms FROM t")
      == "SELECT epoch_ms FROM t")
  }

  test("USING SAMPLE -> TABLESAMPLE (bare n = rows, %/PERCENT, method+seed dropped)") {
    assert(Dialect.rewriteUsingSample("SELECT * FROM t USING SAMPLE 100")
      == "SELECT * FROM t TABLESAMPLE (100 ROWS)")
    assert(Dialect.rewriteUsingSample("SELECT * FROM t USING SAMPLE 10 ROWS")
      == "SELECT * FROM t TABLESAMPLE (10 ROWS)")
    assert(Dialect.rewriteUsingSample("SELECT * FROM t USING SAMPLE 5%")
      == "SELECT * FROM t TABLESAMPLE (5 PERCENT)")
    assert(Dialect.rewriteUsingSample("SELECT * FROM t USING SAMPLE 5 PERCENT (bernoulli, 42)")
      == "SELECT * FROM t TABLESAMPLE (5 PERCENT)")
    // JOIN ... USING (cols) untouched
    assert(Dialect.rewriteUsingSample("SELECT * FROM a JOIN b USING (k)")
      == "SELECT * FROM a JOIN b USING (k)")
  }

  test("DuckDB struct / MAP literals -> named_struct / map (custom_types.go:106-125 shape)") {
    assert(Dialect.rewriteStructLiterals("SELECT {'a': 1, 'b': 'x'} AS s")
      == "SELECT named_struct('a', 1, 'b', 'x') AS s")
    // bare identifier keys and expressions as values
    assert(Dialect.rewriteStructLiterals("SELECT {name: 'n', value: 4 + 2}")
      == "SELECT named_struct('name', 'n', 'value', 4 + 2)")
    // MAP literal
    assert(Dialect.rewriteStructLiterals("SELECT MAP {'k': 1, 'j': n}")
      == "SELECT map('k', 1, 'j', n)")
    // nested structs resolve innermost-first
    assert(Dialect.rewriteStructLiterals("SELECT {'o': {'i': 1}}")
      == "SELECT named_struct('o', named_struct('i', 1))")
    // a key FOLLOWING a nested struct value must survive (review r3: the
    // outer brace used to pair with the inner close brace)
    assert(Dialect.rewriteStructLiterals("SELECT {a: {b: 1}, c: 2}")
      == "SELECT named_struct('a', named_struct('b', 1), 'c', 2)")
    assert(Dialect.rewriteStructLiterals("SELECT {a: MAP {'k': 1}, c: {d: 2}}")
      == "SELECT named_struct('a', map('k', 1), 'c', named_struct('d', 2))")
    // the reference macro's trailing comma inside the braces
    assert(Dialect.rewriteStructLiterals("SELECT { 'q3': quantile(v, 0.75), }")
      == "SELECT named_struct('q3', quantile(v, 0.75))")
    // braces inside string literals untouched; non-kv braces untouched
    assert(Dialect.rewriteStructLiterals("SELECT '{not: a struct}' AS s")
      == "SELECT '{not: a struct}' AS s")
    assert(Dialect.rewriteStructLiterals("SELECT '{\"json\": 1}'::VARCHAR")
      == "SELECT '{\"json\": 1}'::VARCHAR")
  }

  test("VALUES alias rewrite recognizes PIVOT/TABLESAMPLE/USING as clause keywords (advice r2)") {
    // PIVOT is a FROM-item follower, not an alias — col0 names must
    // still be attached
    val sql = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) PIVOT (count(*) FOR col1 IN ('a'))"
    assert(Dialect.rewriteValuesAlias(sql).contains("__v(col0, col1)"))
    val ts = "SELECT col0 FROM (VALUES (1)) TABLESAMPLE (1 ROWS)"
    assert(Dialect.rewriteValuesAlias(ts).contains("__v(col0)"))
    // a genuine alias still suppresses the rewrite
    assert(Dialect.rewriteValuesAlias("SELECT a FROM (VALUES (1)) v(a)")
      == "SELECT a FROM (VALUES (1)) v(a)")
  }

  test("DISTINCT ON -> row_number window filter") {
    assert(Dialect.rewriteDistinctOn("SELECT DISTINCT ON (k) id, k FROM t ORDER BY k, id")
      == "SELECT id, k FROM (SELECT *, row_number() OVER (PARTITION BY k " +
         "ORDER BY k, id) AS __rn FROM t) __d WHERE __rn = 1 ORDER BY k, id")
    // no ORDER BY: partition keys order the window
    assert(Dialect.rewriteDistinctOn("SELECT DISTINCT ON (k) id FROM t")
      == "SELECT id FROM (SELECT *, row_number() OVER (PARTITION BY k " +
         "ORDER BY k) AS __rn FROM t) __d WHERE __rn = 1")
    // plain DISTINCT untouched
    assert(Dialect.rewriteDistinctOn("SELECT DISTINCT k FROM t")
      == "SELECT DISTINCT k FROM t")
  }

  test("QUALIFY -> wrapped window-filter subquery") {
    val in = "SELECT a, b FROM t QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1 ORDER BY a LIMIT 5"
    val out = Dialect.rewriteQualify(in)
    assert(out == "SELECT * EXCEPT (__qualify) FROM (SELECT a, b , " +
      "(row_number() OVER (PARTITION BY a ORDER BY b) = 1) AS __qualify " +
      "FROM t ) __q WHERE __qualify ORDER BY a LIMIT 5")
    // no top-level QUALIFY: untouched (subquery QUALIFY out of scope)
    assert(Dialect.rewriteQualify("SELECT a FROM t") == "SELECT a FROM t")
    assert(Dialect.rewriteQualify("SELECT 'QUALIFY x' AS s FROM t")
      == "SELECT 'QUALIFY x' AS s FROM t")
    // set ops: QUALIFY binds to the LAST branch; earlier branches untouched
    assert(Dialect.rewriteQualify(
      "SELECT a FROM t1 UNION ALL SELECT a FROM t2 QUALIFY row_number() OVER (ORDER BY a) = 1")
      == "SELECT a FROM t1 UNION ALL SELECT * EXCEPT (__qualify) FROM (SELECT a , " +
         "(row_number() OVER (ORDER BY a) = 1) AS __qualify FROM t2 ) __q WHERE __qualify")
  }

  test("getvariable substitution and detection") {
    assert(Dialect.referencedVariables("SELECT getvariable('a'), GETVARIABLE( 'b' )")
      == Seq("a", "b"))
    val out = Dialect.substituteVariables(
      "SELECT getvariable('a')", n => if (n == "a") Some("'v'") else None)
    assert(out == "SELECT ('v')")
    assert(Dialect.substituteVariables("SELECT getvariable('x')", _ => None)
      == "SELECT (NULL)")
    // quote-aware: getvariable(...) text inside a string literal untouched
    assert(Dialect.substituteVariables(
      "SELECT 'call getvariable(''x'') here' AS doc, getvariable('x')",
      n => Some("1"))
      == "SELECT 'call getvariable(''x'') here' AS doc, (1)")
    assert(Dialect.referencedVariables("SELECT 'getvariable(''a'')'").isEmpty)
    // escaped quotes in the variable name round-trip
    assert(Dialect.referencedVariables("SELECT getvariable('a''b')") == Seq("a'b"))
  }

  test("rewriteBoxplotPlain: single-arg BOXPLOT becomes builtin aggregates; strings/idents survive") {
    import graft.sqlfront.Dialect
    val out = Dialect.rewriteBoxplotPlain("SELECT g, BOXPLOT(v) AS bp FROM t GROUP BY g")
    assert(out.contains("percentile") && out.contains("named_struct"), out)
    assert(!out.toUpperCase.contains("BOXPLOT("), out)
    // a string literal mentioning BOXPLOT is not a call site
    val lit = Dialect.rewriteBoxplotPlain("SELECT 'BOXPLOT(v)' AS s FROM t")
    assert(lit == "SELECT 'BOXPLOT(v)' AS s FROM t", lit)
    // a bare identifier without a call is untouched
    val ident = Dialect.rewriteBoxplotPlain("SELECT boxplot FROM t")
    assert(ident == "SELECT boxplot FROM t", ident)
    // the info form is NOT this rewrite's business (handled earlier in
    // the chain); a two-arg call passes through
    val info = Dialect.rewriteBoxplotPlain("SELECT BOXPLOT(v, outlier_info := x) FROM t")
    assert(info == "SELECT BOXPLOT(v, outlier_info := x) FROM t", info)
    // nested parens in the argument stay balanced
    val nested = Dialect.rewriteBoxplotPlain(
      "SELECT BOXPLOT(coalesce(v, least(a, b))) AS bp FROM t GROUP BY 1")
    assert(nested.contains("percentile(CAST((coalesce(v, least(a, b))) AS DOUBLE), 0.25D)"), nested)
  }

  /** Every input the pass tests above rewrite. */
  private val passInputs = Seq(
    "SELECT count(*)::BARCHART FROM t",
    "SELECT date_trunc('week', ts)::XAXIS AS w",
    "SELECT 'x'::TIMESTAMP::XAXIS",
    "SELECT category::CATEGORY, t.c::COLOR FROM t",
    "SELECT x::INT",
    "SELECT '::BARCHART'",
    "SELECT count() FROM t",
    "SELECT count(x) FROM t",
    "FROM t SELECT 1",
    "FROM lineitem",
    "SELECT list_max(a), string_split(s, ' ')",
    "SELECT list_max FROM t",
    "SELECT list_transform(l, x -> x + 1), list_filter(l, x -> x > 0)",
    "SELECT regexp_matches(s, 'a+')",
    "SELECT to_timestamp(1704067200)",
    "SELECT array_length(l)",
    "SELECT list_prepend(1, l), list_concat(a, b)",
    "SELECT 1 FETCH FIRST 5 ROWS ONLY",
    "SELECT 1 FETCH NEXT 1 ROW ONLY",
    "SELECT a, b, FROM t",
    "SELECT x::XAXIS, y::BARCHART, FROM (SELECT 1, FROM t)",
    "SELECT a, b FROM t",
    "SELECT ', FROM x' AS s FROM t",
    "SELECT col0 FROM (VALUES (1, 10), (2, 20))",
    "SELECT a FROM (VALUES (1)) v(a)",
    "SELECT a FROM (VALUES (1)) AS v(a)",
    "SELECT a FROM (SELECT 1 AS a)",
    "SELECT INTERVAL '1h'",
    "SELECT ts + INTERVAL '25h' FROM t",
    "SELECT INTERVAL '7days 1hour'",
    "SELECT INTERVAL '1 banana'",
    "SELECT '1h' AS s",
    "SELECT [x * 2 FOR x IN l]",
    "SELECT [x * 2 FOR x IN l IF x > 1]",
    "SELECT [upper(w) FOR w IN string_split(s, ' ') IF length(w) > 2] FROM t",
    "SELECT [1, 2, 3]",
    "SELECT 'FOR x IN y' AS s",
    "SELECT strftime(ts, '%Y-%m-%d') FROM t",
    "SELECT strftime(ts, '%H:%M:%S') FROM t",
    "SELECT strftime(ts, '%Yw%m')",
    "SELECT strftime(ts, '%d%%')",
    "SELECT strftime(ts, '%V') FROM t",
    "SELECT strftime(date_trunc('day', ts), '%Y')",
    "SELECT * EXCLUDE (a, b) FROM t",
    "SELECT exclude FROM t",
    "SELECT * REPLACE (id * 2 AS id) FROM t",
    "SELECT * REPLACE (x + 1 AS x, lower(k) AS k) FROM t",
    "SELECT replace(s, 'a', 'b') FROM t",
    "SELECT * REPLACE (cast(a AS int) AS a) FROM t",
    "SELECT t.* REPLACE (id * 2 AS id) FROM t",
    "SELECT list_position(l, 2), list_indexof(l, 3)",
    "SELECT list_unique(tags) AS n FROM t",
    "SELECT list_unique(split(s, ','))",
    "SELECT epoch_ms(ts) FROM t",
    "SELECT epoch_ms FROM t",
    "SELECT * FROM t USING SAMPLE 100",
    "SELECT * FROM t USING SAMPLE 10 ROWS",
    "SELECT * FROM t USING SAMPLE 5%",
    "SELECT * FROM t USING SAMPLE 5 PERCENT (bernoulli, 42)",
    "SELECT * FROM a JOIN b USING (k)",
    "SELECT {'a': 1, 'b': 'x'} AS s",
    "SELECT {name: 'n', value: 4 + 2}",
    "SELECT MAP {'k': 1, 'j': n}",
    "SELECT {'o': {'i': 1}}",
    "SELECT {a: {b: 1}, c: 2}",
    "SELECT {a: MAP {'k': 1}, c: {d: 2}}",
    "SELECT { 'q3': quantile(v, 0.75), }",
    "SELECT '{not: a struct}' AS s",
    "SELECT '{\"json\": 1}'::VARCHAR",
    "SELECT DISTINCT ON (k) id, k FROM t ORDER BY k, id",
    "SELECT DISTINCT ON (k) id FROM t",
    "SELECT DISTINCT k FROM t",
    "SELECT a FROM t",
    "SELECT 'QUALIFY x' AS s FROM t",
    "SELECT a FROM t1 UNION ALL SELECT a FROM t2 QUALIFY row_number() OVER (ORDER BY a) = 1",
    "SELECT getvariable('a'), GETVARIABLE( 'b' )",
    "SELECT getvariable('a')",
    "SELECT getvariable('x')",
    "SELECT 'call getvariable(''x'') here' AS doc, getvariable('x')",
    "SELECT 'getvariable(''a'')'",
    "SELECT getvariable('a''b')",
    "SELECT g, BOXPLOT(v) AS bp FROM t GROUP BY g",
    "SELECT 'BOXPLOT(v)' AS s FROM t",
    "SELECT boxplot FROM t",
    "SELECT BOXPLOT(v, outlier_info := x) FROM t",
    "SELECT BOXPLOT(coalesce(v, least(a, b))) AS bp FROM t GROUP BY 1",
    "SELECT 'use FETCH FIRST 5 ROWS ONLY here' AS doc FETCH FIRST 2 ROWS ONLY",
    "SELECT x * replace(cast(a AS int), cast(b AS int)) FROM t",
    "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) PIVOT (count(*) FOR col1 IN ('a'))",
    "SELECT col0 FROM (VALUES (1)) TABLESAMPLE (1 ROWS)",
    "SELECT a, b FROM t QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1 ORDER BY a LIMIT 5"
  )

  /** Statements whose `getvariable` calls sit where a pass moves, copies
    * or wraps them. */
  private val variableInputs = Seq(
    "SELECT getvariable('a')::XAXIS, count()::BARCHART FROM t WHERE k = getvariable('b')",
    "SELECT DISTINCT ON (k) id FROM t WHERE v > getvariable('a') ORDER BY k, getvariable('b')",
    "SELECT [x || getvariable('a') FOR x IN l IF x <> getvariable('b')] FROM t",
    "SELECT {k: getvariable('a'), 'm': [getvariable('b'), 2]} AS s",
    "FROM t WHERE kind IN (SELECT unnest(getvariable('multi'))) QUALIFY row_number() OVER (ORDER BY getvariable('a')) = 1",
    "SELECT strftime(ts, '%Y') AS y, 'getvariable(''a'')' AS doc FROM t WHERE ts > getvariable('a') FETCH FIRST 5 ROWS ONLY",
    "SELECT getvariable('a''b'), GETVARIABLE( 'never_set' ), getvariable('y')")

  test("template memo: a warm rewrite equals a fresh memo's, values bound only as literals") {
    val statements = (passInputs ++ variableInputs ++
      graft.queries.Dashboards.contents.flatMap(c => Statements.split(c).toOption.get))
      .filter(_.nonEmpty).distinct
    val names = (statements.flatMap(Dialect.referencedVariables) :+ "y").distinct
    val values: Seq[Any] = Seq("click", "it's", "getvariable('y')", "x::XAXIS", "count()", "''",
      Seq("a", "b'c", "getvariable('y')"), Seq("x::XAXIS", "count()"))
    val slot = "\u0000([^\u0000]*)\u0000".r
    val rnd = new Random(12)
    val misses = Dialect.templates.rewrites.get
    for (sql <- statements; _ <- 1 to 4) {
      // some names stay unset
      val vars = Dashboard.tokenVars(names.filter(_ => rnd.nextBoolean())
        .map(_ -> values(rnd.nextInt(values.length))).toMap).render _
      val warm = Dialect.rewrite(sql, vars)
      assert(warm == new Dialect.Templates(1 << 20, Dialect.passes)(sql).template.bind(vars), sql)
      // the same text with a marker in each slot: a value appears where
      // its call was, as its literal, and changes nothing else
      val marked = Dialect.rewrite(sql, n => Some("\u0000" + n + "\u0000"))
      assert(slot.replaceAllIn(marked, m => Regex.quoteReplacement(vars(m.group(1)).getOrElse("NULL"))) == warm, sql)
    }
    // referencedVariables above made every entry: the rewrites all hit
    assert(Dialect.templates.rewrites.get == misses)
  }

  test("template memo: distinct statements past the budget keep it within it") {
    val memo = new Dialect.Templates(2000, Dialect.passes)
    val statements = (1 to 200).map(i => s"SELECT count() AS n$i FROM t WHERE k = getvariable('k$i')")
    statements.foreach { sql =>
      memo(sql)
      assert(memo.chars <= 2000)
    }
    assert(memo.size > 0 && memo.size < statements.length)
    // least recently used first out: the last text is held, the first is not
    val misses = memo.rewrites.get
    memo(statements.last)
    assert(memo.rewrites.get == misses)
    memo(statements.head)
    assert(memo.rewrites.get == misses + 1 && memo.chars <= 2000)
    // a text over the whole budget is rewritten but not held
    val huge = "SELECT " + "count() + " * 300 + "1"
    assert(memo(huge).template.bind(_ => None) == Dialect.rewrite(huge))
    memo(huge)
    assert(memo.rewrites.get == misses + 3 && memo.chars <= 2000)
  }

  test("template memo: a text whose rewrite throws throws the same again and leaves no entry") {
    val runs = new AtomicInteger
    val memo = new Dialect.Templates(1 << 20, sql => {
      runs.incrementAndGet()
      if (sql.contains("boom")) throw new IllegalArgumentException(s"cannot rewrite: $sql")
      Dialect.passes(sql)
    })
    val first = intercept[IllegalArgumentException](memo("SELECT boom FROM t"))
    assert(memo.size == 0)
    val second = intercept[IllegalArgumentException](memo("SELECT boom FROM t"))
    assert(second.getMessage == first.getMessage)
    assert(runs.get == 2 && memo.size == 0 && memo.chars == 0)
    memo("SELECT count() FROM t")
    memo("SELECT count() FROM t")
    assert(runs.get == 3 && memo.size == 1)
  }
}
