package graft

/** Dev/demo serving main: starts the HTTP shell (auth-enabled) on a
  * fixed port and blocks — `runMain graft.Serve` then drive it with a
  * browser or curl. Not part of the driver contract; exists so the
  * login → consent → token flow (and every other route) can be
  * exercised against a LIVE process, not just the in-spec sockets.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_HTTP_PORT
  * (default 18080), SPARK_GRAFT_ADMIN_KEY (instance-admin API key,
  * default sk-root), SPARK_GRAFT_TENANT_KEY (tenant key for `acme`,
  * default sk-acme). */
object Serve {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = HarnessSession("4")
    val adminKey = sys.env.getOrElse("SPARK_GRAFT_ADMIN_KEY", "sk-root")
    val tenantKey = sys.env.getOrElse("SPARK_GRAFT_TENANT_KEY", "sk-acme")
    val shell = new graft.api.HttpShell(spark, dir,
      nowNs = 1706745600L * 1000000000L,
      apiKeys = Some(Map(graft.api.HttpShell.hashApiKey(tenantKey) -> "acme")),
      adminApiKeys = Set(graft.api.HttpShell.hashApiKey(adminKey)))
    val port = shell.start(
      sys.env.getOrElse("SPARK_GRAFT_HTTP_PORT", "18080").toInt)
    println(s"graft shell listening on http://127.0.0.1:$port")
    System.out.flush()
    Thread.sleep(Long.MaxValue)
  }
}
