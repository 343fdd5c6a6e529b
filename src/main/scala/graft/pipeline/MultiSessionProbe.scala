package graft.pipeline

import java.sql.DriverManager

/** Forked-JVM probe for the multi-session Thrift mode (driven by
  * SqlEndpointSpec): singleSession is a STATIC conf fixed at session
  * build, and the test JVM's shared session is built single-session,
  * so per-connection isolation can only be exercised from a JVM whose
  * session was built with it false — this main IS that JVM. It starts
  * the endpoint with `multiSession = true`, opens two real JDBC
  * connections and asserts the isolation contract:
  *  - a temp view created on connection 1 is INVISIBLE to
  *    connection 2 (each connection runs in its own cloned session);
  *  - a GLOBAL temp view created on connection 1 IS visible to
  *    connection 2 via `global_temp` — the sanctioned sharing channel;
  *  - the engine's kernel functions (GraftExtensions) serve both
  *    clones.
  * Prints MULTI_SESSION_OK and exits 0 on success; any violation
  * exits non-zero. */
object MultiSessionProbe {
  def main(args: Array[String]): Unit = {
    val port = args(0).toInt
    val spark = graft.Sessions.build("4",
      Map("spark.sql.hive.thriftServer.singleSession" -> "false"))
    val h = SqlEndpoint.start(spark, port, multiSession = true)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      def connect(): java.sql.Connection = {
        var c: java.sql.Connection = null
        var n = 0
        while (c == null && n < 40) {
          try c = DriverManager.getConnection(
            s"jdbc:hive2://localhost:$port/default", "anonymous", "")
          catch { case _: Exception => n += 1; Thread.sleep(500) }
        }
        require(c != null, "could not connect to the thrift endpoint")
        c
      }
      val c1 = connect()
      val c2 = connect()
      try {
        c1.createStatement().execute(
          "CREATE TEMPORARY VIEW probe_v AS SELECT 42 AS x")
        val r1 = c1.createStatement().executeQuery("SELECT x FROM probe_v")
        require(r1.next() && r1.getInt(1) == 42, "own temp view unreadable")
        val leaked =
          try { c2.createStatement().executeQuery("SELECT x FROM probe_v"); true }
          catch { case _: java.sql.SQLException => false }
        require(!leaked, "connection 2 can see connection 1's temp view")
        c1.createStatement().execute(
          "CREATE GLOBAL TEMPORARY VIEW probe_g AS SELECT 7 AS y")
        val rg = c2.createStatement()
          .executeQuery("SELECT y FROM global_temp.probe_g")
        require(rg.next() && rg.getInt(1) == 7, "global temp view not shared")
        val rk = c2.createStatement().executeQuery(
          "SELECT vec_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c")
        require(rk.next() && math.abs(rk.getDouble(1) - 1.0) < 1e-9,
          "kernel functions must serve cloned sessions")
        println("MULTI_SESSION_OK")
      } finally { c1.close(); c2.close() }
    } finally { h.stop(); spark.stop() }
    sys.exit(0)
  }
}
