package graft

/** The Store registry: session-scoped entries, and a `clear` that frees
  * what operators persist internally along with them. */
class StoreSpec extends SparkSpec {

  /** The context's persisted RDDs, local checkpoints included: the
    * fixpoint loop's (Components.labels) must not outlive the clear either. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Store.clear frees globalOrder's, the RFM base's and the shingle-set persists") {
    Store.clear(spark)
    val before = persisted
    // globalOrder's input and ranges and the RFM base are operator-internal
    // persists; dedup_clusters reads the serialized doc_shingle_sets entry
    Registry.all("customer_rfm_segments").fn(ctx).collect()
    Registry.all("dedup_clusters").fn(ctx).collect()
    assert(Store.entries(spark).map(_._2).contains("doc_shingle_sets"))
    assert((persisted -- before).nonEmpty, "the run persisted nothing")
    Store.clear(spark)
    assert(Store.entries(spark).isEmpty)
    val left = persisted -- before
    assert(left.isEmpty, s"persisted RDDs left after Store.clear: " +
      left.map(id => spark.sparkContext.getPersistentRDDs(id).toDebugString).mkString("\n"))
  }

  test("each session has its own entries") {
    val other = Ctx(spark.newSession(), ctx.dir)
    layers.Wh.dimCustomer(ctx)
    assert(Store.entries(spark).contains(ctx.dir -> "dim_customer"))
    assert(!Store.entries(other.spark).contains(ctx.dir -> "dim_customer"))
    Store.clear(spark)
  }
}
