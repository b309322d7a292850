package graft.sources

/** Integer-key range splitting shared by the MySQL and MSSQL wire
  * sources (the reference's mysql.lisp:44-62 key-space split, hardened
  * for Spark where each range becomes a PARTITION, not a round-robin
  * slice of one sequential reader). */
private[graft] object RangeSplit {

  /** WHERE ranges covering `[lo, ∞)` contiguously, final range
    * open-ended (concurrent inserts). The range COUNT is capped by the
    * row-count estimate, not the key span: a sparse 64-bit key
    * (snowflake ids, lo≈0 hi≈10¹⁸) would otherwise materialize
    * ~(hi-lo)/rowsPerRange predicate strings on the driver before the
    * first task launches. Capped, each range's stride widens: there are
    * at most `ceil(rows / rowsPerRange)` ranges.
    *
    * @param quotedCol the partition column ALREADY quoted for the
    *   target dialect (back-quotes for MySQL, brackets for MSSQL)
    */
  def predicates(quotedCol: String, lo: Long, hi: Long,
                 rowsPerRange: Long,
                 rowCountEstimate: Long): Seq[String] = {
    // BigInt for the span: hi - lo overflows Long for extreme key pairs
    val span = BigInt(hi) - BigInt(lo) + 1
    val byKeys = (span + rowsPerRange - 1) / rowsPerRange
    val byRows = math.max(1L,
      (rowCountEstimate + rowsPerRange - 1) / rowsPerRange)
    val n = byKeys.min(BigInt(byRows)).max(1).toLong
    val stride = (span + n - 1) / n
    (0L until n).map { i =>
      val a = BigInt(lo) + stride * i
      if (i == n - 1) s"$quotedCol >= $a"
      else s"$quotedCol >= $a AND $quotedCol < ${a + stride}"
    }
  }

  /** The reference's big-enough guard (mysql.lisp:44-47): a read splits
    * only on an integer key and with at least `2 * rowsPerRange` rows. */
  private def splits(partitionKey: Option[String], rowCount: Long,
                     rowsPerRange: Long): Boolean =
    partitionKey.isDefined && rowCount >= 2 * rowsPerRange

  /** The SELECT of each split of a key-range read of `selectCols`
    * ([[ColumnSqlExpressions.selectList]]) from `from`: one `WHERE`
    * range of [[predicates]] over the key's `bounds` (min, max) each
    * when the read [[splits]], else the one whole-table SELECT. */
  def selects(selectCols: Seq[(String, String)], from: String,
              partitionKey: Option[String], rowCount: Long,
              rowsPerRange: Long, quote: String => String)(
      bounds: String => (Long, Long)): Seq[String] = {
    val select = ColumnSqlExpressions.selectList(selectCols, quote)
    if (!splits(partitionKey, rowCount, rowsPerRange))
      Seq(s"SELECT $select FROM $from")
    else {
      val (lo, hi) = bounds(partitionKey.get)
      predicates(quote(partitionKey.get), lo, hi, rowsPerRange, rowCount)
        .map(pred => s"SELECT $select FROM $from WHERE $pred")
    }
  }
}
