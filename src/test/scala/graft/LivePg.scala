package graft

/** Shared discovery for the live-PostgreSQL suites: use the
  * GRAFT_LIVE_PG_* env when set; otherwise, when the container ships
  * the postgres binaries and we can run `tools/live_pg.sh`, start the
  * local cluster ONCE and use its URIs. Failure of either path leaves
  * the options empty and the suites cancel via `assume`, exactly as
  * before — a sandbox without postgres loses nothing. */
object LivePg {

  private def env(k: String): Option[String] =
    sys.env.get(k).filter(_.nonEmpty)

  /** `pg_ctl <action>` on the cluster `tools/live_pg.sh` runs, as its
    * server user (pg_ctl refuses root); the exit code. */
  private def pgCtl(action: String): Int =
    new ProcessBuilder("su", "pguser", "-c",
        s"cd /tmp && pg_ctl -D /tmp/pgdata $action")
      .redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .start().waitFor()

  /** A server this suite starts is stopped when the test JVM exits; one
    * that was already up stays up. */
  private lazy val autoStarted: Map[String, String] = {
    val script = new java.io.File("tools/live_pg.sh")
    val havePg = new ProcessBuilder("sh", "-c", "command -v postgres")
      .start().waitFor() == 0
    if (!script.isFile || !havePg) Map.empty
    else
      try {
        if (pgCtl("status") != 0) sys.addShutdownHook(pgCtl("stop"))
        val p = new ProcessBuilder("sh", script.getPath)
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes, "UTF-8")
        if (p.waitFor() != 0) Map.empty
        else
          "export ([A-Z_]+)='([^']+)'".r.findAllMatchIn(out)
            .map(m => m.group(1) -> m.group(2)).toMap
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  private def resolve(k: String): Option[String] =
    env(k).orElse(autoStarted.get(k))

  lazy val uri: Option[String] = resolve("GRAFT_LIVE_PG_URI")
  lazy val destUri: Option[String] = resolve("GRAFT_LIVE_PG_DEST_URI")
  lazy val scramUri: Option[String] = resolve("GRAFT_LIVE_PG_SCRAM_URI")
}
