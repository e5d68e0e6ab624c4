package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.connector.catalog.TableProvider
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DcdWrite, Hdf5Write, NetcdfWrite, TrrWrite, XtcWrite}

/** The read contract every trajectory source keeps, checked the same way
  * for each format registered in META-INF/services: frame_id bounds read
  * exactly the rows of an unpushed filter and plan no partition outside
  * the range (saturating at Long.MaxValue), a pushed limit plans fewer
  * partitions but never too few rows (also when DROPMALFORMED drops a
  * record), `count()` works with every column pruned, and bad options
  * fail at load with the format's name in the message.
  *
  * Each fixture holds 6 frames × 3 atoms in two or more files, written
  * by the format's own writer (inpcrd has none: its restart files are
  * built by hand, one frame per file). Reads use `chunks = 1`, so the
  * planned partition count is the number of frames the scan reads.
  */
class FrameSourceContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val Frames = 6
  private val Atoms = 3

  /** The graft providers the SPI file registers, by short name. */
  private val providers: Map[String, TableProvider] = {
    import scala.jdk.CollectionConverters._
    val spi = "META-INF/services/" + classOf[DataSourceRegister].getName
    getClass.getClassLoader.getResources(spi).asScala.toSeq.flatMap { u =>
      val src = scala.io.Source.fromURL(u, "UTF-8")
      try src.getLines().map(_.trim).filter(_.startsWith("graft.")).toList
      finally src.close()
    }.map { cls =>
      val p = Class.forName(cls).getDeclaredConstructor().newInstance()
      p.asInstanceOf[DataSourceRegister].shortName() ->
        p.asInstanceOf[TableProvider]
    }.toMap
  }
  private val registered: Seq[String] = providers.keys.toSeq.sorted

  /** Formats with no drop/coerce path: any mode but FAILFAST is refused. */
  private val failFastOnly = Set("binpos", "dtr", "hdf5", "inpcrd", "netcdf")

  private case class Fixture(path: String, options: Map[String, String])

  private def tmp(name: String): Path = Files.createTempDirectory(s"fsc_$name")

  private def coord(f: Int, a: Int, axis: Int): Float =
    (1.0 + f + 0.1 * a + 0.01 * axis).toFloat

  /** The frames as rows for the DSv2 writers: every column any writer
    * reads, box lengths 3 nm, right angles. */
  private lazy val frameRows: DataFrame = {
    val rows = for (f <- 0 until Frames; a <- 0 until Atoms) yield Row(
      f.toLong, a, f * 0.5, Seq("C", "O", "N")(a), "CA", "ALA", a + 1,
      "A", coord(f, a, 0), coord(f, a, 1), coord(f, a, 2),
      3.0f, 3.0f, 3.0f, 90.0f, 90.0f, 90.0f,
      3.0f, 0f, 0f, 0f, 3.0f, 0f, 0f, 0f, 3.0f)
    val f32 = Seq("x", "y", "z", "box_a", "box_b", "box_c", "box_alpha",
      "box_beta", "box_gamma", "bv1x", "bv1y", "bv1z", "bv2x", "bv2y",
      "bv2z", "bv3x", "bv3y", "bv3z").map(StructField(_, FloatType))
    val schema = StructType(Seq(StructField("frame_id", LongType),
      StructField("atom_id", IntegerType), StructField("time", DoubleType),
      StructField("element", StringType), StructField("name", StringType),
      StructField("res_name", StringType), StructField("res_id", IntegerType),
      StructField("chain", StringType)) ++ f32)
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .withColumn("atom_name", col("name"))
      .withColumn("serial", col("res_id"))
      .withColumn("res_seq", col("res_id"))
      .withColumn("box_x", col("box_a")).withColumn("box_y", col("box_b"))
      .withColumn("box_z", col("box_c"))
  }

  /** Written through the format's DSv2 sink as two frame-range shards. */
  private def sink(fmt: String, options: Map[String, String] = Map.empty)
      : String = {
    val dir = tmp(fmt).resolve("out").toString
    val schema = providers(fmt).inferSchema(CaseInsensitiveStringMap.empty())
    frameRows.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
      .repartitionByRange(2, col("frame_id"))
      .sortWithinPartitions("frame_id", "atom_id")
      .write.format(fmt).options(options).mode("overwrite").save(dir)
    dir
  }

  /** Two files of three frames each, written by a frame-list helper. */
  private def files(fmt: String, ext: String)(write: (String, Range) => Unit)
      : String = {
    val dir = tmp(fmt)
    write(dir.resolve(s"part-00000$ext").toString, 0 until 3)
    write(dir.resolve(s"part-00001$ext").toString, 3 until Frames)
    dir.toString
  }

  private def xyz(f: Int): Array[Float] =
    (0 until Atoms).flatMap(a => (0 until 3).map(coord(f, a, _))).toArray

  /** One AMBER restart per frame: title, natoms + time, 6F12.7 coords. */
  private def inpcrdDir(): String = {
    val dir = tmp("inpcrd")
    def f12(v: Double) = String.format(java.util.Locale.ROOT, "%12.7f", v)
    (0 until Frames).foreach { f =>
      val coords = xyz(f).map(_ * 10.0)
      Files.writeString(dir.resolve(f"r$f%03d.rst7"),
        (Seq("contract restart", s"     $Atoms  ${f * 0.5}") ++
          coords.grouped(6).map(_.map(f12).mkString))
          .mkString("", "\n", "\n"))
    }
    dir.toString
  }

  private lazy val fixtures: Map[String, Fixture] = Map(
    "xyz" -> Fixture(sink("xyz"), Map.empty),
    "gro" -> Fixture(sink("gro"), Map.empty),
    "pdb" -> Fixture(sink("pdb"), Map.empty),
    "lammpstrj" -> Fixture(sink("lammpstrj"), Map.empty),
    "mdcrd" -> Fixture(sink("mdcrd", Map("box" -> "true")),
      Map("natoms" -> Atoms.toString, "box" -> "true")),
    "binpos" -> Fixture(sink("binpos"), Map.empty),
    "arc" -> Fixture(sink("arc"), Map.empty),
    "dtr" -> Fixture(sink("dtr"), Map.empty),
    "inpcrd" -> Fixture(inpcrdDir(), Map.empty),
    "dcd" -> Fixture(files("dcd", ".dcd") { (p, fs) =>
      DcdWrite.write(p, fs.map { f =>
        val c = xyz(f)
        DcdWrite.Frame(c.grouped(3).map(_(0)).toArray,
          c.grouped(3).map(_(1)).toArray, c.grouped(3).map(_(2)).toArray,
          None)
      })
    }, Map.empty),
    "trr" -> Fixture(files("trr", ".trr") { (p, fs) =>
      TrrWrite.write(p, fs.map(f =>
        TrrWrite.Frame(xyz(f), step = f.toLong, time = f * 0.5)))
    }, Map.empty),
    "xtc" -> Fixture(files("xtc", ".xtc") { (p, fs) =>
      XtcWrite.write(p, fs.map(f =>
        XtcWrite.Frame(xyz(f), step = f.toLong, time = f * 0.5)))
    }, Map.empty),
    "netcdf" -> Fixture(files("netcdf", ".nc") { (p, fs) =>
      NetcdfWrite.write(p, fs.map(f =>
        NetcdfWrite.Frame(xyz(f), time = f * 0.5)))
    }, Map.empty),
    "hdf5" -> Fixture(files("hdf5", ".h5") { (p, fs) =>
      Hdf5Write.write(p, fs.map(f =>
        Hdf5Write.Frame(xyz(f), time = (f * 0.5).toFloat)))
    }, Map.empty))

  private def fixture(fmt: String): Fixture = fixtures.getOrElse(fmt,
    fail(s"registered format '$fmt' has no contract fixture"))

  /** A copy of the fixture with frame 0 of its first file malformed: in
    * text files atom 0's y token (the only 1.01 nm / 10.1 Å value) turns
    * to letters; in dcd the first record marker of frame 0 is wrong; in
    * trr and xtc the frame magic is. */
  private def malformed(fmt: String): String = {
    val src = Paths.get(fixture(fmt).path)
    val dir = tmp(s"${fmt}_bad")
    val names = {
      val s = Files.list(src)
      try s.toArray.map(p => p.asInstanceOf[Path].getFileName.toString)
        .sorted.toSeq
      finally s.close()
    }
    names.foreach(n => Files.copy(src.resolve(n), dir.resolve(n)))
    val first = dir.resolve(names.find(_.startsWith("part-")).getOrElse(
      fail(s"$fmt fixture has no part- file")))
    fmt match {
      case "dcd" =>
        val b = Files.readAllBytes(first)
        val le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt == 84
        val bb = ByteBuffer.wrap(b)
          .order(if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
        // header, title and atom-count records precede frame 0
        (0 until 3).foreach { _ =>
          val n = bb.getInt; bb.position(bb.position() + n + 4)
        }
        bb.putInt(bb.position(), -1)
        Files.write(first, b)
      case "trr" | "xtc" =>
        val b = Files.readAllBytes(first)
        ByteBuffer.wrap(b).putInt(0, 0)
        Files.write(first, b)
      case _ =>
        val text = Files.readString(first)
        val tok = "\\S+".r.findAllMatchIn(text).find { m =>
          m.matched.toDoubleOption.exists(v =>
            math.abs(v - 1.01) < 1e-3 || math.abs(v - 10.1) < 1e-3)
        }.getOrElse(fail(s"$fmt fixture has no atom-0 y token to corrupt"))
        Files.writeString(first, text.patch(tok.start,
          "x" * tok.matched.length, tok.matched.length))
    }
    dir.toString
  }

  private def read(fmt: String, extra: Map[String, String] = Map.empty)
      : DataFrame = {
    val fx = fixture(fmt)
    spark.read.format(fmt).options(fx.options + ("chunks" -> "1") ++ extra)
      .load(fx.path)
  }

  /** Input partitions the scan under `df` plans. */
  private def scanPartitions(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: BatchScanExec => s.inputPartitions.size
    }.sum

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  private def messages(t: Throwable): String =
    if (t == null) "" else s"${t.getMessage} | ${messages(t.getCause)}"

  private def rejected(fmt: String, options: Map[String, String],
      schema: Option[StructType] = None): String = {
    val fx = fixture(fmt)
    val e = intercept[Exception] {
      val r = spark.read.format(fmt).options(fx.options ++ options)
      schema.fold(r)(r.schema).load(fx.path).count()
    }
    val msg = messages(e)
    assert(msg.contains(fmt), s"$fmt: error does not name the format: $msg")
    msg
  }

  /** Checks one frame_id predicate against the unpushed full read. */
  private def checkBound(fmt: String, full: Array[Row], name: String,
      pushed: Column, keep: Long => Boolean): Unit = {
    val want = full.filter(r => keep(r.getAs[Long]("frame_id")))
    val df = read(fmt).filter(pushed)
    assert(sorted(df.collect()) == sorted(want),
      s"$fmt $name: rows differ from the unpushed filter")
    val frames = want.map(_.getAs[Long]("frame_id")).distinct.length
    assert(scanPartitions(df) == frames,
      s"$fmt $name: planned ${scanPartitions(df)} partitions for " +
        s"$frames frames in range")
  }

  test("every registered provider has a contract fixture") {
    assert(registered.nonEmpty)
    assert(registered.toSet == fixtures.keySet)
  }

  registered.foreach { fmt =>
    test(s"$fmt: frame_id bounds read the rows of an unpushed filter and " +
      "plan no partition outside the range") {
      val full = read(fmt).collect()
      assert(full.length == Frames * Atoms)
      val f = col("frame_id")
      Seq[(String, Column, Long => Boolean)](
        ("= 2", f === 2L, _ == 2L),
        ("< 2", f < 2L, _ < 2L),
        ("<= 2", f <= 2L, _ <= 2L),
        ("> 3", f > 3L, _ > 3L),
        (">= 3", f >= 3L, _ >= 3L),
        (">= 1 and < 4", f >= 1L && f < 4L, v => v >= 1L && v < 4L),
        ("> 1 and <= 4", f > 1L && f <= 4L, v => v > 1L && v <= 4L),
        ("= 2 and >= 3", f === 2L && f >= 3L, _ => false),
        ("> 7", f > 7L, _ > 7L),
        ("< -1", f < -1L, _ < -1L)
      ).foreach { case (name, c, keep) => checkBound(fmt, full, name, c, keep) }
    }

    test(s"$fmt: frame_id <= Long.MaxValue reads every frame") {
      checkBound(fmt, read(fmt).collect(), "<= Long.MaxValue",
        col("frame_id") <= Long.MaxValue, _ => true)
    }

    test(s"$fmt: frame_id > Long.MaxValue and = Long.MaxValue plan no " +
      "partition") {
      val full = read(fmt).collect()
      checkBound(fmt, full, "> Long.MaxValue",
        col("frame_id") > Long.MaxValue, _ => false)
      checkBound(fmt, full, "= Long.MaxValue",
        col("frame_id") === Long.MaxValue, _ => false)
    }

    test(s"$fmt: limit(n) returns n rows from fewer partitions than the " +
      "full read") {
      val n = Atoms + 1
      val limited = read(fmt).limit(n)
      assert(limited.collect().length == n)
      assert(scanPartitions(limited) < scanPartitions(read(fmt)),
        s"$fmt: limit planned ${scanPartitions(limited)} partitions")
    }

    if (!failFastOnly(fmt))
      test(s"$fmt: limit(n) under DROPMALFORMED returns n rows when frame " +
        "0 holds a malformed record") {
        val fx = fixture(fmt)
        val path = malformed(fmt)
        def drop() = spark.read.format(fmt)
          .options(fx.options + ("chunks" -> "1") +
            ("mode" -> "DROPMALFORMED"))
          .load(path)
        val kept = drop().collect().length
        assert(kept < Frames * Atoms, s"$fmt: the malformed record was kept")
        Seq(Atoms, kept).foreach { n =>
          assert(drop().limit(n).collect().length == n,
            s"$fmt: limit($n) returned too few rows")
        }
      }

    test(s"$fmt: count() with every column pruned") {
      assert(read(fmt).count() == Frames * Atoms)
      assert(read(fmt).filter(col("frame_id") >= 4L).count() == 2 * Atoms)
    }

    test(s"$fmt: bad chunks, unit_scale and read schema fail with the " +
      "format name") {
      assert(rejected(fmt, Map("chunks" -> "two")).contains("chunks"))
      assert(rejected(fmt, Map("chunks" -> "0")).contains("chunks"))
      assert(rejected(fmt, Map("unit_scale" -> "abc")).contains("unit_scale"))
      assert(rejected(fmt, Map.empty,
        Some(StructType(Seq(StructField("frame_id", StringType)))))
        .contains("fixed schema"))
      // the format's own schema is accepted
      val fx = fixture(fmt)
      val own = providers(fmt).inferSchema(CaseInsensitiveStringMap.empty())
      assert(spark.read.format(fmt).options(fx.options).schema(own)
        .load(fx.path).count() == Frames * Atoms)
    }

    test(s"$fmt: mode is parsed strictly") {
      assert(rejected(fmt, Map("mode" -> "garbage")).contains("mode"))
      Seq("DROPMALFORMED", "COERCEWARN").foreach { m =>
        if (failFastOnly(fmt)) assert(rejected(fmt, Map("mode" -> m))
          .contains("mode"))
        else assert(read(fmt, Map("mode" -> m)).count() == Frames * Atoms)
      }
      assert(read(fmt, Map("mode" -> "failfast")).count() == Frames * Atoms)
    }
  }
}
