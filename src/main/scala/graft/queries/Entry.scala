package graft.queries

/** One registry record: a named builder over the driver's parquet tables
  * and, when the query is SQL-expressible, its DuckDB oracle twin (column
  * names and row order identical to the builder's result). Each query
  * module lists its records once, in `entries`; [[graft.SparkEntry]]
  * joins the lists.
  *
  * The oracle text is computed on first read, so building the registry
  * does not run the transpiler ([[Transpile]]'s twins are its DuckDB
  * emissions). */
final class Entry(val name: String, val build: Q, oracleSql: => Option[String]) {
  lazy val oracle: Option[String] = oracleSql
}

object Entry {
  def apply(name: String, build: Q, oracle: => String): Entry =
    new Entry(name, build, Some(oracle))

  /** An entry with no oracle twin (its result is not SQL-expressible). */
  def apply(name: String, build: Q): Entry = new Entry(name, build, None)

  /** Name → record; a name listed twice fails here instead of shadowing. */
  def registry(entries: Seq[Entry]): Map[String, Entry] = {
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"registry names listed twice: ${dups.toSeq.sorted.mkString(", ")}")
    entries.map(e => e.name -> e).toMap
  }
}
