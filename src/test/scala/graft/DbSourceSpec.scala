package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.sources.DbSource.apply]] is the one place a LOAD DATABASE
  * source scheme is matched: a scheme without a wire client or file
  * reader stops the load there, before the target sees any DDL. */
class DbSourceSpec extends AnyFunSuite {

  test("a LOAD DATABASE from jdbc: or an unknown scheme fails before " +
    "the Runner issues any DDL") {
    for (uri <- Seq("jdbc:derby:memory:x", "oracle://u:p@127.0.0.1:1521/db")) {
      val ddl = new ConcurrentLinkedQueue[String]
      val runner = new Runner(
        executeDdl = (sql, _) => ddl.add(sql),
        endpointFactory = (_, _) => _ =>
          throw new IllegalStateException("no COPY expected"))
      val e = intercept[UnsupportedOperationException](runner.runFileWith(
        () => throw new IllegalStateException("no Spark session expected"),
        s"""LOAD DATABASE FROM $uri
              INTO pgsql://u@127.0.0.1:5432/db
              WITH include drop, create tables;"""))
      assert(e.getMessage.contains("is not wired"), uri)
      assert(ddl.isEmpty, s"$uri: ${ddl}")
    }
  }
}
