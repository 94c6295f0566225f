package graft.catalog

import org.apache.spark.sql.Column

/** Graphite-style metric glob resolution — the KenshinFinder analog
  * (reference stage 1 of a fetch: resolve `stats.web.*.p95` against the
  * `.idx` index; graphite-web finders [U, SURVEY §3.2]).
  *
  * Semantics (graphite-web node globbing):
  *  - `*` / `?` match any run / single char WITHIN a dot-delimited node
  *    (never across the `.` separator),
  *  - `{a,b}` is alternation,
  *  - `[...]` character classes pass through,
  *  - everything else is literal.
  *
  * In the lake layout there is no `.idx` file: the glob compiles to an
  * anchored regex predicate on the metric column, which Catalyst pushes
  * into the scan as a filter. For pure-prefix globs (`a.b.*`) the
  * compiled regex starts with a literal prefix, so at production scale a
  * metric-bucketed layout still prunes on it.
  */
object MetricGlob {

  /** Find the closing `]` of a class opened at `open`, fnmatch-style:
    * a `!` negation marker and a `]` in FIRST content position are class
    * members, not the terminator (`[]]` matches a literal `]`). Returns
    * -1 for an unclosed class. */
  private def classEnd(glob: String, open: Int): Int = {
    var j = open + 1
    if (j < glob.length && glob(j) == '!') j += 1
    if (j < glob.length && glob(j) == ']') j += 1
    while (j < glob.length && glob(j) != ']') j += 1
    if (j < glob.length) j else -1
  }

  /** Compile a glob to an anchored Java regex. Unbalanced braces and
    * unclosed classes are treated as literal characters (graphite's
    * fnmatch behavior) instead of emitting an uncompilable group;
    * `[...]` classes follow fnmatch: `[!...]` negates, `[]]` is a
    * literal `]`, other contents pass through with regex-hostile chars
    * (`\`, a leading `^` or `[`) escaped so the class always compiles;
    * `{a,{b,c}}` nests via a depth counter (only a depth-0 `}` ends the
    * alternation scope). */
  def toRegex(glob: String): String = {
    // brace metachar status decided by a prescan that skips class
    // contents: a '{' inside [...] is a class member, not an opener
    val bracesBalanced = {
      var depth = 0; var ok = true
      var i = 0
      while (i < glob.length) {
        glob(i) match {
          case '[' =>
            val j = classEnd(glob, i)
            if (j >= 0) i = j
          case '{' => depth += 1
          case '}' => if (depth == 0) ok = false else depth -= 1
          case _ =>
        }
        i += 1
      }
      ok && depth == 0
    }
    val sb = new StringBuilder("^")
    var braceDepth = 0
    var i = 0
    while (i < glob.length) {
      glob(i) match {
        case '[' if classEnd(glob, i) >= 0 =>
          val j = classEnd(glob, i)
          var body = glob.substring(i + 1, j)
            .replace("\\", "\\\\").replace("&", "\\&")
          val neg = body.startsWith("!")
          if (neg) body = body.substring(1)
          if (body.startsWith("^")) body = "\\" + body
          // EVERY '[' inside a Java regex class opens a nested class —
          // escape them all, not just a leading one
          body = body.replace("[", "\\[")
          sb.append('[').append(if (neg) "^" else "").append(body)
            .append(']')
          i = j
        case '*' => sb.append("[^.]*")
        case '?' => sb.append("[^.]")
        case '{' if bracesBalanced => braceDepth += 1; sb.append("(?:")
        case '}' if bracesBalanced => braceDepth -= 1; sb.append(')')
        case ',' if braceDepth > 0 => sb.append('|')
        case '.' => sb.append("\\.")
        case c if "\\^$+()|{}[]".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append("$").toString
  }

  /** The literal prefix of a glob — the characters before the first
    * metacharacter (`stats.web.` for `stats.web.*.p95`). */
  def literalPrefix(glob: String): String =
    glob.takeWhile(c => "*?{[".indexOf(c) < 0)

  /** Graphite `aliasByNode(series, n)`: rename each series to its n-th
    * dot-delimited node (negative n counts from the end) — the rename
    * every dashboard applies after a glob fetch. Pure column expression
    * (codegen'd element_at over split). */
  def aliasByNode(metric: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{element_at, split}
    // element_at is 1-based positive / -1-based negative; try_ keeps
    // out-of-range node indexes null instead of throwing under ANSI
    val idx = if (n >= 0) n + 1 else n
    org.apache.spark.sql.functions.try_element_at(
      split(metric, "\\."), org.apache.spark.sql.functions.lit(idx))
  }

  /** graphite-web `/metrics/find` (the KenshinFinder browse endpoint —
    * what powers dashboard autocomplete): resolve a glob ONE NODE LEVEL
    * deep — `find("app.*")` lists the distinct second-level nodes under
    * `app`, each flagged leaf (an exact metric ends here) and/or branch
    * (deeper metrics exist). Pure aggregation over the distinct metric
    * names: per-node regex match, prefix projection, one groupBy —
    * at production the input is the (tiny) metric-name dimension, never
    * the points table. */
  def findNodes(metrics: org.apache.spark.sql.DataFrame,
      glob: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val nodeGlobs = glob.split('.')
    val n = nodeGlobs.length
    val parts = split(col("metric"), "\\.")
    val pred = nodeGlobs.zipWithIndex.map { case (g, i) =>
      try_element_at(parts, lit(i + 1)).rlike(toRegex(g))
    }.reduce(_ && _)
    metrics
      .where(size(parts) >= n && pred)
      .select(concat_ws(".", slice(parts, 1, n)).as("node"),
        when(size(parts) === n, 1).otherwise(0).as("leaf_i"),
        when(size(parts) > n, 1).otherwise(0).as("branch_i"))
      .groupBy(col("node"))
      .agg((max(col("leaf_i")) === 1).as("is_leaf"),
        (max(col("branch_i")) === 1).as("is_branch"))
      .orderBy("node")
  }

  /** Predicate form: metric column matches the glob (Spark `rlike` is a
    * substring match, hence the explicit anchors in [[toRegex]]).
    *
    * Regex predicates cannot push into a parquet scan, so for globs with
    * a literal prefix this ANDs a redundant `startsWith` conjunct —
    * Catalyst pushes it as `StringStartsWith`, which prunes row groups
    * (and, in a metric-sorted/bucketed layout, whole files) before the
    * regex ever runs. Asserted in CatalogSpec. */
  def predicate(metric: Column, glob: String): Column = {
    val re = metric.rlike(toRegex(glob))
    val prefix = literalPrefix(glob)
    if (prefix.nonEmpty) metric.startsWith(prefix) && re else re
  }

  /** Graphite `exclude(seriesList, pattern)`: drop series whose name
    * matches the REGEX (`render/functions.py — exclude` [U]) — the
    * negative filter composed AFTER a glob resolves the candidate set. */
  def excludePredicate(metric: Column, pattern: String): Column =
    !metric.rlike(pattern)
}
