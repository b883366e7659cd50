package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._

import graft.sources.ObjectStore
import graft.sources.keyed.KeyedStore
import graft.sources.scrape.ScrapeManifest

/** Local files under a scheme of their own, which Hadoop knows only from
  * a conf that names this class (`fs.graftfs.impl`). */
class SchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** The keyed store, the scrape source and `ObjectStore` reach the file
  * system through the session's Hadoop conf, on the driver and in tasks:
  * a scheme registered only there (what `spark.hadoop.fs.<scheme>.impl`
  * does) works end to end. */
class SessionHadoopConfSpec extends SparkSpec {

  /** Hadoop caches one instance per scheme and user and hands it to any
    * later lookup, whatever its conf; with the cache off for the scheme,
    * every lookup needs a conf that registers it. */
  private def withScheme(body: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.graftfs.impl" -> classOf[SchemeFs].getName,
      "fs.graftfs.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body("graftfs://" + Files.createTempDirectory("graft_scheme"))
    finally keys.foreach { case (k, _) => conf.unset(k) }
  }

  test("keyed store: write, sidecar and scan through a session-only scheme") {
    withScheme { root =>
      val df = spark.range(5).select(col("id"), col("id").cast("string")
        .as("name"))
      KeyedStore.write(df, s"$root/a")
      df.write.format("graft-keyed").mode("overwrite").save(s"$root/b")
      for (dir <- Seq(s"$root/a", s"$root/b")) {
        val back = spark.read.format("graft-keyed").load(dir)
        assert(back.schema == df.schema)
        assert(back.orderBy("id").collect().toSeq == df.collect().toSeq)
      }
    }
  }

  test("scrape source: manifest and landed pages through a session-only " +
      "scheme") {
    withScheme { root =>
      val page = s"$root/p.html"
      val fs = new org.apache.hadoop.fs.Path(page)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(page))
      try out.write("landed".getBytes(StandardCharsets.UTF_8))
      finally out.close()
      ScrapeManifest.write(Seq(("https://x.test/p", page,
        java.time.Instant.parse("2024-03-01T10:00:00Z"))), s"$root/m.jsonl")
      assert(ScrapeManifest.read(s"$root/m.jsonl").map(_.path) == Seq(page))
      val got = spark.read.format("graft-scrape")
        .option("path", s"$root/m.jsonl").load().collect()
      assert(got.map(_.getAs[String]("content")).toSeq == Seq("landed"))
    }
  }

  test("ObjectStore defaults to the session's Hadoop conf") {
    withScheme { root =>
      val local = Files.createTempFile("graft_scheme", ".txt")
      Files.write(local, "blob".getBytes(StandardCharsets.UTF_8))
      val store = new ObjectStore(s"$root/store")
      store.uploadFile(local.toString, "k/blob.txt")
      val back = Files.createTempDirectory("graft_scheme").resolve("b.txt")
      store.downloadFile("k/blob.txt", back.toString)
      assert(new String(Files.readAllBytes(back), StandardCharsets.UTF_8)
        == "blob")
      store.deleteFile("k/blob.txt")
    }
  }
}
