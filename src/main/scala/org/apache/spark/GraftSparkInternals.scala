package org.apache.spark

/** Minimal bridge into `private[spark]` surface needed by graft. */
object GraftSparkInternals {

  /** Drain the listener bus. Telemetry listeners receive task-end events
    * asynchronously; the bench's per-query attribution is only exact if
    * the bus is empty before the snapshot is read and the counters are
    * reset for the next query.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A fresh directory under java.io.tmpdir, deleted with its contents
    * when the JVM exits.
    */
  def createTempDir(namePrefix: String): java.io.File =
    util.Utils.createTempDir(namePrefix = namePrefix)
}
