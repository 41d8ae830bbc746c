package graft

/** CLI for [[Runner.diff]] — the recce regression twin, driveable end to
  * end: diff two build directories table by table and emit one JSON line
  * per table plus a final summary line (the bare-last-line stdout contract
  * the other mains follow).
  *
  *   sbt "runMain graft.Diff /path/buildA /path/buildB fct_orders=order_key"
  *
  * Key args (optional, `table=col+col`) enable the per-key changed count.
  * Exit code 1 when any table differs — usable as a regression gate.
  */
object Diff {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Diff <dirA> <dirB> [table=key+key ...]")
    val spark = Sessions.bench()
    val keys = args.drop(2).map { kv =>
      val Array(t, ks) = kv.split("=", 2)
      t -> ks.split("\\+").toSeq
    }.toMap
    val diffs = Runner.diff(spark, args(0), args(1), keys)
    diffs.foreach { d =>
      println(
        s"""{"table":"${d.table}","only_in_a":${d.onlyInA},"only_in_b":${d.onlyInB},""" +
        s""""rows_a":${d.rowsA},"rows_b":${d.rowsB},"schema_changed":${d.schemaChanged}""" +
        d.changedKeys.map(c => s""","changed_keys":$c""").getOrElse("") + "}")
    }
    val dirty = diffs.filterNot(_.identical)
    println(
      s"""{"metric":"diff","tables":${diffs.size},"differing":${dirty.size},""" +
      s""""identical":${dirty.isEmpty}}""")
    spark.stop()
    if (dirty.nonEmpty) sys.exit(1)
  }
}
