package graft.http

/** Standalone serving entry point: `runMain graft.http.DocServe
  * [sfDir] [port]` — brings the §2.12 REST surface up over a live
  * SparkSession, the deployment shape of the reference daemon
  * (`main/stream_procs_api_http.c:86-112` starts mongoose next to the
  * processing threads). Ctrl-C to stop. */
object DocServe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = graft.LocalSession()
    val srv = DocServer.start(spark, sfDir, port)
    println(s"[docserve] serving $sfDir on " +
      s"http://127.0.0.1:${srv.port}/api/1.0/stream_procs.json")
    Thread.currentThread().join() // serve until killed
  }
}
