package graft.store

import graft.SparkSpec
import graft.model.Meta
import graft.temporal.TemporalOps
import graft.temporal.TemporalOps._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ContainerExtrasSpec extends SparkSpec {
  import spark.implicits._

  private lazy val c = {
    val df = Seq(
      (1L, 100.0, "a", 10L), (2L, 100.0, "b", 20L), (3L, 100.0, "a", 30L))
      .toDF("_oid", "_start", "tag", "n")
      .withColumn(Meta.END, lit(null).cast(DoubleType))
    new Container(spark, "extras", df)
  }

  test("drop deletes the persisted path and empties state; schema survives") {
    withTempDir("graft_drop") { tmp =>
      val dir = tmp.toString
      val path = s"$dir/tbl"
      val df = Seq((1L, 100.0, "a")).toDF("_oid", "_start", "tag")
        .withColumn(Meta.END, lit(null).cast(DoubleType))
      val cc = new Container(spark, "droptest", df, Some(path)).save()
      assert(new java.io.File(path).exists())
      assert(Container.load(spark, "droptest", path).count() == 1L)
      cc.drop()
      assert(!new java.io.File(path).exists(), "drop must delete the path")
      assert(cc.count() == 0L, "state must be empty after drop")
      // schema preserved: inserts after drop still line up
      assert(cc.df.schema.fieldNames.contains("tag"))
      // idempotent: dropping an already-dropped container is a no-op
      cc.drop()
      assert(!new java.io.File(path).exists())
    }
  }

  test("ls lists catalog tables (reference: cube listing)") {
    c.df.createOrReplaceTempView("extras_ls_probe")
    assert(c.ls().contains("extras_ls_probe"))
    spark.catalog.dropTempView("extras_ls_probe")
    assert(!c.ls().contains("extras_ls_probe"))
  }

  test("findOne returns a row map; scalar a value") {
    val one = c.findOne("tag == 'b'")
    assert(one.exists(_("n") == 20L))
    assert(c.findOne("tag == 'nope'").isEmpty)
    assert(c.scalar("tag == 'a' and n > 15", "n").contains(30L))
  }

  test("where: intended AND semantics (reference bug fixed)") {
    val got = c.where(Map("tag" -> "a", "n" -> 10L)).collect()
    assert(got.length == 1 && got(0).getAs[Long]("_oid") == 1L)
    // reference bug would have matched only on the last key (n)
    assert(c.where(Map("tag" -> "b", "n" -> 10L)).count() == 0)
  }

  test("execute: raw SQL over the container view") {
    val got = c.execute("SELECT sum(n) AS s FROM extras WHERE tag = 'a'")
    assert(got.head().getLong(0) == 40L)
  }

  test("index records layout hint") {
    assert(c.index("tag", "n").indexList() == Seq("tag", "n"))
  }

  test("objectApply: per-oid transform with flatMapGroups") {
    val df = Seq((1L, 10.0, 1), (1L, 20.0, 2), (2L, 5.0, 7))
      .toDF("_oid", "_start", "v")
    // keep only each oid's max-v row
    val got = df.objectApply(rows => Seq(rows.maxBy(_.getInt(2))))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(1L -> 2, 2L -> 7))
  }

  test("BoundedResult enforces queried bounds") {
    val df = Seq((1L, 10.0, 20.0)).toDF("_oid", "_start", "_end")
    val br = TemporalOps.BoundedResult(df, Some(5.0), Some(50.0))
    assert(br.onDate(15.0).count() == 1)
    intercept[IllegalArgumentException](br.onDate(100.0))
  }
}

class SourcesSpec extends SparkSpec {

  test("JdbcSource: oid-batch predicates and SQL generation") {
    import graft.etl.JdbcSource
    val preds = JdbcSource.oidBatchPredicates("_oid", Seq(1, 2, 3, 4, 5), batchSize = 2)
    assert(preds == Seq("_oid IN (1,2)", "_oid IN (3,4)", "_oid IN (5)"))
    assert(JdbcSource.oidBatchPredicates("k", Seq("a'b")) == Seq("k IN ('a''b')"))
    val sql = JdbcSource.generateSql(
      "db.t",
      Seq(JdbcSource.FieldSpec("a"), JdbcSource.FieldSpec("b", Some("bee"))),
      leftJoins = Seq("LEFT JOIN db.u ON t.id = u.id"),
      where = Some("a > 1"))
    assert(sql == "SELECT a, b AS bee FROM db.t LEFT JOIN db.u ON t.id = u.id WHERE a > 1")
  }

  test("OsInfoSource parses rpm queryformat output") {
    import graft.etl.OsInfoSource
    val sep = ""
    val out = Seq(
      Seq("bash", "5.1", "2", "x86_64", "bash-5.1-2.x86_64", "GPLv3", "linux",
        "(none)", "x86_64-linux", "(none)", "bash-5.1-2.src.rpm", "The shell").mkString(sep),
      Seq("zsh", "5.8", "1", "x86_64", "zsh-5.8-1.x86_64", "MIT", "linux",
        "(none)", "x86_64-linux", "(none)", "zsh-5.8-1.src.rpm", "Z shell").mkString(sep))
      .mkString("\n") + "\n"
    val df = OsInfoSource.fromQueryOutput(spark, out, "host1", asOf = 0.0)
    val rows = df.orderBy("name").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("_oid") == "host1__bash-5.1-2.x86_64")
    assert(rows(0).getAs[String]("packager") == null) // (none) -> null
    assert(rows(1).getAs[String]("license") == "MIT")
  }

  test("OsInfoSource ssh path: injection-safe argv + per-host oids") {
    import graft.etl.OsInfoSource
    val cmd = OsInfoSource.sshCommand("build-host.example")
    assert(cmd.take(4) == Seq("ssh", "-o", "BatchMode=yes", "build-host.example"))
    assert(cmd.drop(4).take(3) == Seq("rpm", "-qa", "--queryformat"))
    // hostile hostname stays a single argv element — nothing to inject
    assert(OsInfoSource.sshCommand("h; rm -rf /").contains("h; rm -rf /"))
    // unreachable host -> empty frame with the full schema, not a crash
    val df = OsInfoSource.loadPackagesRemote(
      spark, "graft-no-such-host.invalid",
      sshOptions = Seq("-o", "BatchMode=yes", "-o", "ConnectTimeout=1"))
    assert(df.count() == 0)
    assert(df.columns.contains("nvra"))
  }

  test("export writes a one-way ORC copy without rebinding the container") {
    withTempDir("graft-export") { tmp =>
      import spark.implicits._
      val df = Seq((1L, 0.0, "a"), (2L, 0.0, "b")).toDF("_oid", "_start", "tag")
        .withColumn("_end", org.apache.spark.sql.functions.lit(null).cast("double"))
      val cont = new graft.store.Container(spark, "exp_t", df)
      val dest = tmp.toString
      cont.export(dest, "orc")
      val back = spark.read.orc(dest)
      assert(back.count() == cont.df.count())
      assert(back.columns.sorted.toSeq == cont.df.columns.sorted.toSeq)
    }
  }
}
