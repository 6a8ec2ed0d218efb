package graft.schema

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftScratch

/** The ONE memo of the derived fixture directories registered queries
  * build from their inputs (copy-on-write and merge-on-read warehouses,
  * partitioned and bucketed copies, blob tables). Every directory lives
  * under one per-JVM scratch root that Spark's shutdown hook deletes,
  * so no fixture outlives the JVM that built it. */
object Fixtures {

  private lazy val root = GraftScratch.newRoot("graft-fixtures").toPath

  private val built = scala.collection.concurrent.TrieMap.empty[String, String]

  /** A fresh directory under the scratch root. */
  def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  /** What `build` returns for a fresh directory, built once per
    * (session, `prefix`, `key`) — `key` names the input the fixture
    * derives from, when one session may see several. */
  def memo(spark: SparkSession, prefix: String, key: String = "")
          (build: String => String): String =
    built.getOrElseUpdate(s"${System.identityHashCode(spark)}|$prefix|$key",
      build(dir(prefix)))
}
