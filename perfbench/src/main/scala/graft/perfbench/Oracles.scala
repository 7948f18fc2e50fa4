package graft.perfbench

import graft.SparkEntry

/** Prints `name<TAB>oracle SQL` for each named query that has one, with
  * the SQL on one line; `pin_check.py` runs them in DuckDB.
  */
object Oracles {
  def main(args: Array[String]): Unit =
    args.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).foreach { case (n, sql) =>
      println(s"$n\t${sql.replaceAll("\\s+", " ")}")
    }
}
