package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark runner over a table directory,
  * and the DuckDB SQL that `tools/check.py` replays as its oracle.
  */
final case class Entry(name: String, run: (SparkSession, String) => DataFrame, oracleSql: String)
