package graftbench

import graft.api.HttpGateway
import graft.core.SchemaRegistry

/** Boots one `HttpGateway` over `warehouse` in this JVM and serves until
  * standard input closes, which also happens when the process that
  * started it dies. Prints `READY <port>` once the socket is bound.
  *
  * Usage: GatewayMain <warehouse> <project> <cores> <localDir>
  */
object GatewayMain {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, project, cores, localDir) = args
    val spark = Session(cores.toInt, localDir)
    val registry = SchemaRegistry.persistent(s"$warehouse/_registry")
    val gw = new HttpGateway(spark, registry, warehouse, project)
    val port = gw.start()
    println(s"READY $port")
    System.out.flush()
    while (System.in.read() >= 0) ()
    gw.stop()
    spark.stop()
  }
}
