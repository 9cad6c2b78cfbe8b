package graft.etl

import graft.model.Meta

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.sys.process._
import scala.util.Try

/** Installed-package source (reference: cubes/osinfo/rpm.py:35-117):
  * `rpm -qa --queryformat` shellout parsed into package objects with
  * `_oid = "{host}__{nvra}"`. Driver-side process → DataFrame
  * (capability parity; the ssh/paramiko remote path maps to running
  * the same shellout against a remote host).
  */
object OsInfoSource {

  val fields: Seq[String] = Seq(
    "name", "version", "release", "arch", "nvra", "license", "os",
    "packager", "platform", "sourcepackage", "sourcerpm", "summary")

  /** The queryformat string handed to rpm (one \x01-separated line per
    * package, mirroring rpm.py:60-76).
    */
  val queryFormat: String =
    fields.map(f => s"%{$f}").mkString("") + "\n"

  val schema: StructType =
    StructType(fields.map(StructField(_, StringType)) :+ StructField("host", StringType))

  /** The remote-extraction command of the reference's ssh path
    * (rpm.py:77-117 runs the same queryformat through a paramiko
    * channel; here it is one argv — no shell interpolation of the
    * host, so a hostile hostname cannot inject). BatchMode keeps a
    * scheduled extraction from hanging on a password prompt.
    */
  def sshCommand(
      host: String,
      sshOptions: Seq[String] = Seq("-o", "BatchMode=yes")): Seq[String] =
    Seq("ssh") ++ sshOptions ++ Seq(host, "rpm", "-qa", "--queryformat", queryFormat)

  /** Query a remote host's rpm database over ssh; empty DataFrame when
    * unreachable (no ssh targets exist in this environment — the
    * command construction + parse pipeline is the tested surface).
    */
  def loadPackagesRemote(
      spark: SparkSession,
      host: String,
      sshOptions: Seq[String] = Seq("-o", "BatchMode=yes"),
      asOf: Double = 0.0): DataFrame = {
    val out = Try(sshCommand(host, sshOptions).!!).getOrElse("")
    fromQueryOutput(spark, out, host, asOf)
  }

  /** Parse rpm queryformat output (testable without rpm installed). */
  def fromQueryOutput(
      spark: SparkSession,
      out: String,
      host: String,
      asOf: Double): DataFrame = {
    val rows = parseLines(out).map(vals => Row.fromSeq(vals :+ host))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1.max(rows.size / 5000)), schema)
    Meta.wrap(
      df,
      oid = concat_ws("__", col("host"), col("nvra")),
      asOf = asOf,
      dataCols = Some(fields :+ "host"))
  }

  /** A pre-recorded `rpm -qa --queryformat` output (10 packages, \x01
    * field separators, rpm's "(none)" sentinels included) — this
    * environment ships no rpm binary, so parse-layer parity
    * (rpm.py:60-117) is proven by running the recording through the
    * full [[fromQueryOutput]] → container path and value-checking the
    * result against the DuckDB oracle, which re-parses the same raw
    * lines from a fixture parquet.
    */
  val SampleQueryOutput: String = Seq(
    Seq("bash", "5.2.15", "3.el9", "x86_64", "bash-5.2.15-3.el9.x86_64",
      "GPLv3+", "linux", "Example Project", "x86_64-example-linux-gnu",
      "(none)", "bash-5.2.15-3.el9.src.rpm", "The GNU Bourne Again shell"),
    Seq("coreutils", "9.1", "12.el9", "x86_64", "coreutils-9.1-12.el9.x86_64",
      "GPLv3+", "linux", "Example Project", "x86_64-example-linux-gnu",
      "(none)", "coreutils-9.1-12.el9.src.rpm", "A set of basic GNU tools"),
    Seq("filesystem", "3.16", "2.el9", "x86_64", "filesystem-3.16-2.el9.x86_64",
      "Public Domain", "linux", "Example Project", "x86_64-example-linux-gnu",
      "(none)", "filesystem-3.16-2.el9.src.rpm", "The basic directory layout"),
    Seq("glibc", "2.34", "60.el9", "x86_64", "glibc-2.34-60.el9.x86_64",
      "LGPLv2+ and others", "linux", "Example Project", "x86_64-example-linux-gnu",
      "(none)", "glibc-2.34-60.el9.src.rpm", "The GNU libc libraries"),
    Seq("gpg-pubkey", "3228467c", "613798eb", "(none)", "gpg-pubkey-3228467c-613798eb",
      "pubkey", "linux", "(none)", "(none)",
      "(none)", "(none)", "gpg(example-key)"),
    Seq("openssl-libs", "3.0.7", "25.el9", "x86_64", "openssl-libs-3.0.7-25.el9.x86_64",
      "ASL 2.0", "linux", "Example Project", "x86_64-example-linux-gnu",
      "(none)", "openssl-3.0.7-25.el9.src.rpm", "A general purpose crypto library"),
    Seq("python3", "3.9.18", "1.el9", "x86_64", "python3-3.9.18-1.el9.x86_64",
      "Python", "linux", "Example Project", "x86_64-example-linux-gnu",
      "(none)", "python3.9-3.9.18-1.el9.src.rpm", "Python 3.9 interpreter"),
    Seq("rpm", "4.16.1.3", "27.el9", "x86_64", "rpm-4.16.1.3-27.el9.x86_64",
      "GPLv2+", "linux", "Example Project", "x86_64-example-linux-gnu",
      "(none)", "rpm-4.16.1.3-27.el9.src.rpm", "The RPM package management system"),
    Seq("setup", "2.13.7", "10.el9", "noarch", "setup-2.13.7-10.el9.noarch",
      "Public Domain", "linux", "Example Project", "(none)",
      "(none)", "setup-2.13.7-10.el9.src.rpm", "A set of system configuration files"),
    Seq("zlib", "1.2.11", "40.el9", "x86_64", "zlib-1.2.11-40.el9.x86_64",
      "zlib and Boost", "linux", "Example Project", "x86_64-example-linux-gnu",
      "(none)", "zlib-1.2.11-40.el9.src.rpm", "Compression library"))
    .map(_.mkString("")).mkString("\n") + "\n"

  /** Fixture-parquet drop point for the oracle's re-parse. */
  val FixturePath = "/tmp/graft_fixtures/rpm_qa_raw.parquet"

  private[etl] def parseLines(out: String): Seq[Seq[String]] =
    out.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val parts = line.split("", -1).toSeq
      val padded = parts.padTo(fields.size, "")
      // rpm renders missing tags as "(none)"
      padded.take(fields.size).map(v => if (v == "(none)") null else v)
    }
}
