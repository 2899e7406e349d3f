package graft.oracle

/** Generates ANSI/DuckDB SQL that replays the type-inference cascade
  * (RedshiftAutoSchema.py:294-339 semantics, as implemented by
  * graft.inference) for a table with a statically known column list.
  * Used to build `SparkEntry.oracleSql` entries so the driver's DuckDB
  * run derives the same (field, proposed_type) rows our engine does —
  * the oracle COMPUTES the decision, it is not a hard-coded golden.
  *
  * Per-column SQL keys on the source-type kind (numeric / timestamp /
  * string / complex), mirroring how pandas dtypes steer the reference's
  * cascade and how ColumnProfiler.kindOf steers ours.
  */
object InferenceOracle {

  sealed trait Kind
  case object Num extends Kind      // integral + floating source columns
  case object Ts extends Kind       // timestamp source columns
  case object Str extends Kind      // string source columns
  case object Complex extends Kind  // array/map/struct/binary → super

  private val boolDomain =
    "('true', 'false', 't', 'f', '0', '1')"

  /** DuckDB try_strptime chain ≈ ColumnProfiler.sparkTsFormats (one
    * strptime entry per Spark format, same order). Only needs to agree
    * with Spark on the strings actually present; every format requires
    * explicit Y+M+D (partial dates fall through).
    * LOCKSTEP CONTRACT (twin of ColumnProfiler.sparkTsFormats): the
    * trailing %z entries mirror the guarded ISO fallback of
    * graft.functions.ShapedTimestamp, the profiler's datetime view (ISO
    * forms with a zone offset, space- or 'T'-separated), so a string
    * column of offset timestamps infers `timestamp` on BOTH sides —
    * edit both files together. */
  private def tsParse(c: String): String = {
    val fmts = Seq(
      "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S",
      "%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S",
      "%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%dT%H:%M:%S.%f%z",
      "%Y-%m-%d %H:%M", "%Y-%m-%d",
      "%Y/%m/%d %H:%M:%S", "%Y/%m/%d",
      "%Y.%m.%d %H:%M:%S", "%Y.%m.%d",
      "%m/%d/%Y %H:%M:%S", "%m/%d/%Y %H:%M", "%m/%d/%Y",
      "%b %d %Y %H:%M:%S", "%b %d, %Y %H:%M:%S",
      "%B %d %Y %H:%M:%S", "%B %d, %Y %H:%M:%S",
      "%b %d %Y", "%b %d, %Y", "%B %d %Y", "%B %d, %Y",
      "%d %b %Y %H:%M:%S", "%d %B %Y %H:%M:%S",
      "%d %b %Y", "%d %B %Y",
      // ShapedTimestamp's ISO fallback, made explicit:
      "%Y-%m-%d %H:%M:%S%z", "%Y-%m-%d %H:%M:%S.%f%z")
    fmts.map(f => s"try_strptime($c, '$f')").mkString("coalesce(", ", ", ")")
  }

  /** The cascade for one column as a single-row SELECT 'name', CASE…. */
  def columnSql(table: String, col: String, kind: Kind,
                identifier: Boolean): String = {
    val c = col
    kind match {
      case Complex =>
        s"SELECT '$c' AS field, CASE WHEN count($c) = 0 THEN 'notype' " +
          s"ELSE 'super' END AS proposed_type FROM $table"
      case Ts =>
        s"SELECT '$c' AS field, CASE WHEN count($c) = 0 THEN 'notype' " +
          s"WHEN coalesce(bool_and($c = date_trunc('day', $c)), false) THEN 'date' " +
          s"ELSE 'timestamp' END AS proposed_type FROM $table"
      case Num =>
        // NaN is masked to NULL up front (pandas treats NaN as null).
        // Integral test carries the int64-convertibility clamp (twin of
        // ColumnProfiler.aggsFor): the ±2⁶³ bounds are written as
        // INTEGER literals so DuckDB's promotion applies them exactly
        // per source type — BIGINT columns compare in HUGEINT (always
        // in range, like the engine's unclamped integral-source path),
        // DOUBLE columns compare in double (the engine's float clamp).
        val integral = s"bool_and($c = floor($c) " +
          s"AND $c >= -9223372036854775808 AND $c < 9223372036854775808)"
        val boolBranch =
          if (identifier) ""
          else s"WHEN coalesce(bool_and(lower(CAST($c AS VARCHAR)) IN $boolDomain), false) THEN 'bool' "
        s"SELECT '$c' AS field, CASE WHEN count($c) = 0 THEN 'notype' " +
          boolBranch +
          s"WHEN coalesce($integral, false) " +
          s"AND min($c) >= -2147483648 AND max($c) <= 2147483647 THEN 'int4' " +
          s"WHEN coalesce($integral, false) THEN 'int8' " +
          s"ELSE 'float8' END AS proposed_type " +
          s"FROM (SELECT CASE WHEN isnan(CAST($c AS DOUBLE)) THEN NULL ELSE $c END AS $c FROM $table)"
      case Str =>
        val d = s"try_cast($c AS DOUBLE)"
        val dm = s"CASE WHEN isnan($d) THEN NULL ELSE $d END"
        val ts = tsParse(c)
        // read_csv integer-literal emulation (twin of ColumnProfiler
        // .aggsFor's StrKind arithmetic): literals that fit int64 are
        // integral EXACTLY (decimal(38,0), not the rounding double
        // cast); uint64-only literals fail the integral test (pandas
        // astype(int64) wraps → float8); beyond-uint64 literals force
        // the varchar branch (pandas object dtype → OverflowError).
        val intLit = s"regexp_matches($c, '^\\s*[+-]?[0-9]+\\s*$$')"
        val dec = s"try_cast($c AS DECIMAL(38,0))"
        val decInt64 = s"($dec IS NOT NULL AND $dec >= -9223372036854775808 " +
          s"AND $dec <= 9223372036854775807)"
        val bigObj = s"bool_or($intLit AND NOT ($dec IS NOT NULL " +
          s"AND $dec >= -9223372036854775808 " +
          s"AND $dec <= 18446744073709551615))"
        val integral = s"bool_and(CASE WHEN $intLit THEN $decInt64 " +
          s"ELSE ($dm = floor($dm) AND $dm >= -9223372036854775808 " +
          s"AND $dm < 9223372036854775808) END)"
        val boolBranch =
          if (identifier) ""
          else s"WHEN coalesce(bool_and(lower($c) IN $boolDomain), false) THEN 'bool' "
        s"SELECT '$c' AS field, CASE WHEN count($c) = 0 THEN 'notype' " +
          boolBranch +
          s"WHEN coalesce($bigObj, false) THEN " +
          s"(CASE WHEN coalesce(max(length($c)), 0) <= 240 " +
          s"THEN 'varchar(256)' ELSE 'varchar(65535)' END) " +
          s"WHEN count($d) = count($c) THEN (CASE " +
          s"WHEN coalesce($integral, false) " +
          s"AND min($dm) >= -2147483648 AND max($dm) <= 2147483647 THEN 'int4' " +
          s"WHEN coalesce($integral, false) THEN 'int8' " +
          s"ELSE 'float8' END) " +
          s"WHEN count($ts) = count($c) THEN (CASE " +
          s"WHEN coalesce(bool_and($ts = date_trunc('day', $ts)), false) THEN 'date' " +
          s"ELSE 'timestamp' END) " +
          s"WHEN coalesce(max(length($c)), 0) <= 240 THEN 'varchar(256)' " +
          s"ELSE 'varchar(65535)' END AS proposed_type FROM $table"
    }
  }

  /** Whole-table inference oracle: UNION ALL of per-column cascades,
    * ordered by field name to match the Spark side's orderBy. */
  def tableSql(table: String, cols: Seq[(String, Kind)]): String = {
    val parts = cols.map { case (c, k) =>
      columnSql(table, c, k, identifier = c.endsWith("_id"))
    }
    parts.mkString("SELECT field, proposed_type FROM (", " UNION ALL ",
      ") ORDER BY field")
  }

  /** Static schemas of the driver-generated testdata (TESTDATA.md) —
    * fixed across scale factors. */
  val lineitemCols: Seq[(String, Kind)] = Seq(
    "l_orderkey" -> Num, "l_partkey" -> Num, "l_suppkey" -> Num,
    "l_linenumber" -> Num, "l_quantity" -> Num, "l_extendedprice" -> Num,
    "l_discount" -> Num, "l_tax" -> Num, "l_returnflag" -> Str,
    "l_linestatus" -> Str, "l_shipdate" -> Ts)

  val eventsCols: Seq[(String, Kind)] = Seq(
    "event_id" -> Num, "ts" -> Ts, "user_id" -> Num, "event_type" -> Str,
    "value" -> Num, "props" -> Str)

  val documentsCols: Seq[(String, Kind)] = Seq(
    "doc_id" -> Num, "text" -> Str, "lang" -> Str, "source" -> Str,
    "n_chars" -> Num)

  val embeddingsCols: Seq[(String, Kind)] = Seq(
    "vec_id" -> Num, "embedding" -> Complex, "label" -> Num)

  val ordersCols: Seq[(String, Kind)] = Seq(
    "o_orderkey" -> Num, "o_custkey" -> Num, "o_orderstatus" -> Str,
    "o_totalprice" -> Num, "o_orderdate" -> Ts, "o_orderpriority" -> Str)

  val partCols: Seq[(String, Kind)] = Seq(
    "p_partkey" -> Num, "p_name" -> Str, "p_brand" -> Str,
    "p_type" -> Str, "p_size" -> Num, "p_retailprice" -> Num)
}
