package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lints every DuckDB oracle in [[SparkEntry.oracleSql]] for the HUGEINT
  * dtype trap that has now produced red CORRECTNESS rows in three separate
  * rounds (r5 `agg_*`, r7 `agg_conditional_family` + `sink_compact_smallfiles`):
  * DuckDB widens `sum(<integer>)` and `count_if(...)` to HUGEINT while Spark
  * emits BIGINT, so the driver's dtype-sensitive hash compare fails even
  * though every value matches. The repo-wide convention is to wrap such
  * aggregates in `CAST(... AS BIGINT)`; this spec makes forgetting the wrap
  * a test failure instead of a silent round-gate red.
  *
  * Pure string analysis — no Spark session, no DuckDB (which only exists on
  * the driver side). Heuristic, tuned against the full current oracle corpus:
  * an un-CAST `sum(...)` is flagged only when its argument looks integer
  * (references a known integer column of the test tables, a `length(...)`,
  * an `epoch(...)`, or a bare-integer CASE branch) and nothing inside the
  * argument already widens it to DOUBLE.
  */
class OracleLintSpec extends AnyFunSuite {

  /** Integer-typed columns of every /root/testdata table (TESTDATA.md). */
  private val intCols = Seq(
    "c_custkey", "c_nationkey", "doc_id", "n_chars", "vec_id", "label",
    "event_id", "user_id", "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "n_nationkey", "n_regionkey", "o_orderkey", "o_custkey",
    "p_partkey", "p_size", "r_regionkey", "s_suppkey", "s_nationkey")

  private val intColRe = ("(?i)\\b(" + intCols.mkString("|") + ")\\b").r
  // length()/epoch() return BIGINT in DuckDB; `THEN 1`-style bare-integer
  // CASE branches sum to HUGEINT exactly like an integer column does.
  private val intExprRe = "(?i)\\b(length|strlen|epoch|epoch_us)\\s*\\(".r
  private val intCaseRe = "(?i)\\bTHEN\\s+\\d+\\b(?!\\.)".r
  // anything that already widens the argument to a float type
  private val doubleRe = "(?i)(AS\\s+(DOUBLE|FLOAT|REAL)|::\\s*DOUBLE)".r

  /** The balanced-paren argument starting right after `open` (index of the
    * opening paren itself).
    */
  private def parenArg(sql: String, open: Int): String = {
    var depth = 0
    var i = open
    while (i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return sql.substring(open + 1, i)
        case _ =>
      }
      i += 1
    }
    sql.substring(open + 1) // unbalanced — return the tail, lint will run
  }

  /** True when the text immediately before index `at` ends with `CAST(`. */
  private def castWrapped(sql: String, at: Int): Boolean = {
    val before = sql.substring(0, at).reverse.dropWhile(_.isWhitespace)
    before.startsWith("(TSAC") // "CAST(" reversed
  }

  private def lint(name: String, sql: String): Seq[String] = {
    val hits = "(?i)\\b(sum|count_if)\\s*\\(".r.findAllMatchIn(sql).toSeq
    hits.flatMap { m =>
      val fn = m.group(1).toLowerCase
      val open = sql.indexOf('(', m.start)
      val arg = parenArg(sql, open)
      val wrapped = castWrapped(sql, m.start)
      // a CASE's result type comes from its THEN/ELSE branches — an
      // integer column inside the WHEN condition is irrelevant, so drop
      // the condition spans before the column scan
      val branches = arg.replaceAll("(?is)\\bWHEN\\b.*?\\bTHEN\\b", "THEN")
      val looksInt = intColRe.findFirstIn(branches).isDefined ||
        intExprRe.findFirstIn(branches).isDefined ||
        intCaseRe.findFirstIn(arg).isDefined
      val widened = doubleRe.findFirstIn(arg).isDefined
      if (fn == "count_if" && !wrapped)
        Some(s"$name: count_if(...) returns HUGEINT in DuckDB — wrap as " +
          s"CAST(count_if(...) AS BIGINT)  [arg: ${arg.take(60)}]")
      else if (fn == "sum" && !wrapped && looksInt && !widened)
        Some(s"$name: sum over an integer expression returns HUGEINT in " +
          s"DuckDB — wrap as CAST(sum(...) AS BIGINT)  [arg: ${arg.take(60)}]")
      else None
    }
  }

  test("every oracle CASTs integer sum()/count_if() to BIGINT " +
    "(DuckDB HUGEINT hash-compare trap)") {
    val problems = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .flatMap { case (name, sql) => lint(name, sql) }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }

  // --- rounded-zero sign lint (r10's only red row) ----------------------
  //
  // `round()` over an expression that can be NEGATIVE can land on exactly
  // zero from below; DuckDB keeps IEEE `-0.0` while Spark's round emits
  // `+0.0` — values compare equal, the driver's byte hash does not
  // (win_rolling_corr, r10: two rows, corr ≈ -3e-6). Repo convention
  // ([[graft.queries.Rounding]]): such columns append `+ 0.0` (SQL) /
  // `+ lit(0.0)` (Column side). This lint scans the QUERY SOURCE FILES
  // (both sides live there — Column programs and their SQL-twin strings)
  // for `round(` whose balanced argument is sign-capable: a signed
  // aggregate (corr/covar/regr_slope/regr_intercept/skewness/kurtosis)
  // or a leading unary minus (negated entropies, -ln sampling keys).
  // Non-negative quantities (prices, counts, entropy-of-positive sums,
  // |z|>3-filtered z-scores) are deliberately out of scope — the +0.0 is
  // harmless there but the lint stays high-precision so hits mean action.

  private val signedFnRe =
    ("(?i)\\b(corr|covar_samp|covar_pop|regr_slope|regr_intercept|" +
      "skewness|kurtosis)\\s*\\(").r

  private def lintRoundSign(fname: String, src: String): Seq[String] = {
    "\\bround\\(".r.findAllMatchIn(src).toSeq.flatMap { m =>
      val open = m.end - 1
      // balanced argument + index of round's own closing paren
      var depth = 0; var i = open; var close = -1
      while (i < src.length && close < 0) {
        src.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = i
          case _ =>
        }
        i += 1
      }
      val arg = if (close > 0) src.substring(open + 1, close) else ""
      val signCapable = signedFnRe.findFirstIn(arg).isDefined ||
        arg.dropWhile(_.isWhitespace).startsWith("-")
      if (!signCapable || close < 0) None
      else {
        // text after round(...)'s close paren, with source-level margin
        // continuations ("\n        |") flattened the way stripMargin does
        val follow = src.substring(close + 1,
          math.min(src.length, close + 80))
          .replaceAll("\\n\\s*\\|?", " ")
        val ok = "^\\s*\\+\\s*(lit\\()?\\s*0\\.0".r
          .findFirstIn(follow).isDefined
        if (ok) None
        else {
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          Some(s"$fname:$line: round() over a sign-capable expression " +
            s"lacks the + 0.0 / + lit(0.0) zero-sign normalization " +
            s"[arg: ${arg.take(60)}]")
        }
      }
    }
  }

  // --- mean-of-double-sum lint (r12's only red row) ----------------------
  //
  // `round(sum(double) / count, k)` is the banned determinism shape that
  // made agg_theil_index go red in r12: a double sum's value depends on
  // partial-aggregate merge order, so the two engines can land on
  // opposite sides of a half-unit rounding boundary even though both are
  // "correct". Repo convention: sum money in integer cents and moments in
  // integer ten-thousandths (order-free BIGINT sums), then divide once.
  // This lint harvests alias kinds from the oracle SQL (`sum(...) AS x`
  // = double sum unless CAST(... AS BIGINT)-wrapped; `count(...) AS n`)
  // and flags any `round(<double-sum alias> / <count alias>, k)`.
  // Deliberately alias-level (not full expression analysis) to stay
  // high-precision: a hit is exactly the recurring failure shape.

  /** alias -> "dsum" | "isum" | "count", harvested from `... AS alias`. */
  private def aliasKinds(sql: String): Map[String, String] = {
    val flat = sql.replaceAll("\\n\\s*\\|?", " ")
    val kinds = scala.collection.mutable.Map[String, String]()
    for (m <- "(?i)\\b(sum|count)\\s*\\(".r.findAllMatchIn(flat)) {
      val fn = m.group(1).toLowerCase
      val open = flat.indexOf('(', m.start)
      var depth = 0; var i = open; var close = -1
      while (i < flat.length && close < 0) {
        flat.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = i
          case _ =>
        }
        i += 1
      }
      if (close > 0) {
        val follow = flat.substring(close + 1)
        // CAST(sum(...) AS BIGINT) AS alias → exact integer sum, exempt
        val castInt = "(?i)^\\s*AS\\s+BIGINT\\s*\\)\\s*AS\\s+(\\w+)".r
        val direct = "(?i)^\\s*AS\\s+(\\w+)".r
        castInt.findFirstMatchIn(follow) match {
          case Some(mm) =>
            kinds(mm.group(1).toLowerCase) =
              if (fn == "count") "count" else "isum"
          case None => direct.findFirstMatchIn(follow).foreach { mm =>
            kinds(mm.group(1).toLowerCase) =
              if (fn == "count") "count" else "dsum"
          }
        }
      }
    }
    kinds.toMap
  }

  private def lintMeanOfDoubleSum(name: String, sql: String): Seq[String] = {
    val flat = sql.replaceAll("\\n\\s*\\|?", " ")
    val kinds = aliasKinds(flat)
    "\\bround\\(".r.findAllMatchIn(flat).toSeq.flatMap { m =>
      val arg = parenArg(flat, m.end - 1).trim
        .replaceAll(",\\s*\\d+\\s*$", "") // strip the round scale
      "(?i)^([a-z_]\\w*)\\s*/\\s*([a-z_]\\w*)$".r.findFirstMatchIn(arg)
        .flatMap { g =>
          val num = g.group(1).toLowerCase
          val den = g.group(2).toLowerCase
          if (kinds.get(num).contains("dsum") &&
            kinds.get(den).contains("count"))
            Some(s"$name: round($num / $den, k) rounds a DOUBLE-sum mean " +
              "— merge-order nondeterminism (r12 agg_theil_index); sum in " +
              "integer cents/ten-thousandths and divide once instead")
          else None
        }
    }
  }

  test("no oracle rounds a double-sum divided by a count " +
    "(merge-order rounding-boundary trap)") {
    val problems = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .flatMap { case (name, sql) => lintMeanOfDoubleSum(name, sql) }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }

  test("every rounded sign-capable output is zero-sign normalized " +
    "(IEEE -0.0 cross-engine hash trap)") {
    val dir = new java.io.File("src/main/scala/graft/queries")
    assert(dir.isDirectory, s"lint expects to run from the repo root; " +
      s"missing ${dir.getAbsolutePath}")
    val problems = dir.listFiles.filter(_.getName.endsWith(".scala"))
      .sortBy(_.getName).toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try lintRoundSign(f.getName, src.mkString) finally src.close()
      }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }

  /** Every GLOBAL window (`Window.orderBy(...)` with no partitioning, or
    * `Window.partitionBy()`) funnels its whole input through ONE task —
    * fine over a bounded aggregate output (months, deciles, a 7×24
    * grid), a silent single-node sort at 100 TB over anything that
    * grows with the corpus. Each site must therefore declare its axis:
    * `// bounded: <why the row count is fixed>` on the same line or
    * within the six lines above, or `// corpus-axis: <axis>` for the
    * exact-rank statistics family (RFM/Spearman/Mann-Whitney/Pareto)
    * whose semantics require a total order and whose documented scale
    * fallback is approximate fences — a NEW unannotated global window
    * fails this lint, so the classification can't silently erode
    * (r13 verdict item 5).
    */
  private def lintGlobalWindows(fname: String, src: String): Seq[String] = {
    val lines = src.split("\n", -1)
    val marker = "(bounded:|corpus-axis:)".r
    lines.zipWithIndex.flatMap { case (line, i) =>
      val code = line.indexOf("//") match {
        case -1 => line
        case c  => line.substring(0, c)
      }
      val hit = code.contains("Window.orderBy(") ||
        code.contains("Window.partitionBy()")
      if (!hit) None
      else {
        val window = lines.slice(math.max(0, i - 6), i + 1).mkString("\n")
        if (marker.findFirstIn(window).isDefined) None
        else Some(s"$fname:${i + 1}: global window without a " +
          s"'bounded:'/'corpus-axis:' axis annotation — ${line.trim}")
      }
    }.toSeq
  }

  test("every global window declares its axis as bounded or a " +
    "documented corpus-axis exception (single-task sort trap)") {
    val dir = new java.io.File("src/main/scala/graft")
    assert(dir.isDirectory, s"lint expects to run from the repo root; " +
      s"missing ${dir.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val problems = walk(dir).sortBy(_.getPath).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try lintGlobalWindows(f.getName, src.mkString) finally src.close()
    }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }

  /** The manifest log lives in ONE place: `Physical`'s log section owns
    * the `vNNNNN.manifest` naming, its parsing and the `part-` data-file
    * listing, and every committer or reader elsewhere goes through those
    * helpers (`manifestName`, `logVersion`, `writeParts`, `resolve`). A
    * second copy is how the log drifted into per-feature variants before
    * — so any other main file that formats or parses manifest names or
    * filters `part-` files fails here, and inside Physical each pattern
    * is pinned to the one use in its log helper.
    */
  test("manifest naming, parsing and part-file listing stay in " +
    "Physical's log section (one copy of the log plumbing)") {
    val patterns = Seq(
      "formats a manifest name" -> "%05d.manifest",
      "parses a manifest name" -> "\".manifest\"",
      "filters part- files" -> "startsWith(\"part-\")")
    val inPhysical = Map("formats a manifest name" -> 1,
      "parses a manifest name" -> 1, "filters part- files" -> 1)
    val dir = new java.io.File("src/main/scala/graft")
    assert(dir.isDirectory, s"lint expects to run from the repo root; " +
      s"missing ${dir.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val problems = walk(dir).sortBy(_.getPath).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      patterns.flatMap { case (what, lit) =>
        val n = text.sliding(lit.length).count(_ == lit)
        val allowed =
          if (f.getName == "Physical.scala") inPhysical(what) else 0
        if (n == allowed) None
        else Some(s"${f.getName}: $what $n time(s), expected $allowed " +
          s"(`$lit`) — use Physical's log helpers instead")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }
}
