package graft

import java.net.URI

import graft.fs.{NioLocalFileSystem, NioLocalFs}
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** A session built through [[DeploymentProfile.configure]] carries the
  * profile's Hadoop keys, and they resolve `file:` to the `graft.fs`
  * classes. The session here is the out-of-process index maintainer's
  * (`IndexMaintainer.sessionBuilder`), so the same checks pin that JVM's
  * filesystem too. */
class DeploymentProfileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    // getOrCreate would hand back a running context built without the
    // profile, whose Hadoop conf never sees the builder's keys
    SparkSession.getDefaultSession.foreach(_.stop())
    IndexMaintainer.sessionBuilder().master("local[2]").getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  test("the profile's session resolves file: to the java.nio local filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.file.impl") == classOf[NioLocalFileSystem].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") == classOf[NioLocalFs].getName)
    val fs = FileSystem.newInstance(new URI("file:///"), conf)
    try assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    finally fs.close()
    val afs = FileContext.getFileContext(new URI("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      DeploymentProfile.CodegenCacheMaxEntries.toString)
  }

  test("the out-of-process index maintainer's session writes through the " +
    "java.nio local filesystem") {
    assert(spark.sparkContext.appName == "graft-index-maintainer")
    val dir = java.nio.file.Files.createTempDirectory("graft_profile_maint")
    val p = new org.apache.hadoop.fs.Path(dir.toUri.toString, "part-0")
    // a new instance: the JVM-wide FileSystem cache may hold another
    // session's `file:` filesystem
    val fs = FileSystem.newInstance(p.toUri, spark.sparkContext.hadoopConfiguration)
    try {
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
      fs.create(p, true).close()
      assert(fs.exists(p))
    } finally fs.close()
  }
}
