package graft

/** Dev aid: dump every function name visible in a graft session (used
  * to diff the registered surface against the reference's
  * BuiltinScalarFunctions registry line by line). */
object ListFns {
  def main(a: Array[String]): Unit = {
    val s = GraftSession.local(2)
    s.sessionState.functionRegistry.listFunction()
      .map(_.funcName.toLowerCase).distinct.sorted.foreach(println)
    s.stop()
  }
}
