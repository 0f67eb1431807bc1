package graft

import org.apache.hadoop.fs.FileSystem

/** Pins the session contract of [[Session.start]] on the live test
  * session, which is built by the same factory as the entry mains. */
class SessionSpec extends SparkTestBase {

  test("the test session is the production session: UTC, extensions, 4 partitions, no UI, fork-free FS") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.getConf.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(sc.getConf.get("spark.ui.enabled") == "false" && sc.uiWebUrl.isEmpty)
    val hadoop = spark.sessionState.newHadoopConf()
    assert(hadoop.get("fs.file.impl") == classOf[graft.hadoop.NoForkLocalFileSystem].getName)
    assert(hadoop.get("fs.AbstractFileSystem.file.impl") ==
      classOf[graft.hadoop.NoForkLocalFs].getName)
    // the binding is what a local path actually resolves to
    assert(FileSystem.get(new java.net.URI("file:///"), hadoop)
      .isInstanceOf[graft.hadoop.NoForkLocalFileSystem])
  }
}
