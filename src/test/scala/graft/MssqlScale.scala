package graft

import graft.sources.{MssqlWireSource, TdsWire}

/** Scale-curve measurement for the range-partitioned TDS read
  * (COVERAGE.md "Scale curve" table, `mssql_read` row) — the MSSQL
  * sibling of the SqliteGen timing run. An in-process [[FakeTdsServer]]
  * serves a Chinook-Track-shaped table at 1× (15,607 rows) and 10×
  * (156,070 rows); the read splits on the identity PK via
  * `RangeSplit.predicates`, one WHERE-range per Spark partition, so
  * added rows land on idle cores instead of lengthening one stream.
  * Three warm rounds, best-of reported. Run:
  * `sbt "Test/runMain graft.MssqlScale"`. */
object MssqlScale {

  private def trackRows(n: Int): Seq[Array[String]] =
    (1 to n).map { i =>
      Array(i.toString, s"Track number $i with a medium-length name",
        (i % 347 + 1).toString, (200000 + i * 17 % 100000).toString,
        "0.99")
    }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder("mssql-scale", Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      Seq(("1x", 15607), ("10x", 156070)).foreach { case (label, n) =>
        val rows = trackRows(n)
        val cols = Seq("id", "name", "album", "ms", "price")
        val srv = new FakeTdsServer(onSelect = sql =>
          if (sql.contains("MIN([id])"))
            Some((Seq("mn", "mx"), Seq(Array("1", n.toString))))
          else if (sql.contains("[dbo].[track]")) Some((cols, rows))
          else None)
        try {
          val p = TdsWire.ConnParams("127.0.0.1", srv.port, "corpus",
            "graft", "secret")
          val df = MssqlWireSource.scan(p, "dbo", "track",
            cols.map(c => (TdsWire.quoteIdent(c), c)),
            partitionKey = Some("id"), rowCountEstimate = n.toLong,
            rowsPerRange = 5000L).frame(spark)
          val parts = df.rdd.getNumPartitions
          val walls = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            val c = df.count()
            require(c == n.toLong, s"read $c of $n rows")
            (System.nanoTime() - t0) / 1e9
          }
          println(f"mssql_read $label: n=$n parts=$parts " +
            f"best=${walls.min}%.2fs walls=${walls.map(w => f"$w%.2f")}")
        } finally srv.close()
      }
    } finally spark.stop()
  }
}
