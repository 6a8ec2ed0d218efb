package org.apache.spark.sql.graftshim

/** A scratch directory under `java.io.tmpdir` that Spark's
  * `ShutdownHookManager` deletes when the JVM exits — through
  * `Utils.createTempDir` (`private[spark]`, hence this package).
  * Contains no Spark-derived code; it only forwards. */
object GraftScratch {
  def newRoot(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)
}
