package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The sas7bdat source (SURVEY §2.1 S4 — the reference's one input format
  * the engine had not opened). The reference's actual April-2016 binary is
  * not bundled, so the gate is two-sided instead:
  *   - full round-trip equality against the reference's 3,096,313-row
  *     parquet mirror (`sas_data/`), written through [[Sas7bdat.write]]
  *     and read back in parallel through [[Sas7bdat.read]];
  *   - this writer's output is additionally cross-read with
  *     `pd.read_sas` — an independent implementation of the same public
  *     spec — in tools/check_sas7bdat_pandas.py (result recorded in
  *     FIXTURES.md).
  */
class Sas7bdatSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def tmpFile(tag: String): String =
    Files.createTempDirectory(s"graft-sas-$tag").resolve(s"$tag.sas7bdat").toString

  test("round-trip: both SAS types, missing numerics and blank strings -> null") {
    import spark.implicits._
    val df = Seq[(java.lang.Double, String, java.lang.Double, String)](
      (1.0, "alpha", 3.25, "x"),
      (2.0, null, Double.NegativeInfinity, ""),       // empty string = SAS missing
      (3.0, "trailing  ", null, "éü"),                // latin1 beyond ascii
      (4.0, "q", -0.0, "endsz")
    ).toDF("id", "s1", "v", "s2")
    val path = tmpFile("small")
    val cols = Sas7bdat.writeDataFrame(df, path)
    assert(cols.map(_.name) == Seq("id", "v", "s1", "s2")) // numerics first

    val back = Sas7bdat.read(spark, path).select("id", "s1", "v", "s2")
    assert(back.schema == StructType(Seq(
      StructField("id", DoubleType), StructField("s1", StringType),
      StructField("v", DoubleType), StructField("s2", StringType))))
    val rows = back.collect().sortBy(_.getDouble(0)).toSeq
    // SAS semantics: blanks (and blank-padded tails) trim; "" and null
    // both come back null; -inf/-0.0 survive bit-exact
    assert(rows == Seq(
      Row(1.0, "alpha", 3.25, "x"),
      Row(2.0, null, Double.NegativeInfinity, null),
      Row(3.0, "trailing", null, "éü"),
      Row(4.0, "q", -0.0, "endsz")))
  }

  test("metadata inspect: layout, row length, counts, no compression") {
    import spark.implicits._
    val df = Seq((1.0, "ab"), (2.0, "c")).toDF("n", "s")
    val path = tmpFile("meta")
    Sas7bdat.writeDataFrame(df, path)
    val meta = Sas7bdat.inspect(path)
    assert(meta.u64 && meta.littleEndian && meta.compression.isEmpty)
    assert(meta.rowCount == 2 && meta.rowLength == 10) // 8 + max-width 2
    assert(meta.columns == Seq(
      Sas7bdat.SasColumn("n", 0, 8, numeric = true),
      Sas7bdat.SasColumn("s", 8, 2, numeric = false)))
    assert(meta.mixPageRowCount == 2) // both rows fit on the mix page
  }

  test("truncated numerics (width 3..8) decode as the high-order double bytes") {
    val d = 1234.5678
    val full = new Array[Byte](8)
    java.nio.ByteBuffer.wrap(full).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putDouble(0, d)
    for (w <- 3 to 8) {
      // SAS keeps the w most significant bytes: LE tail of the buffer
      val page = full.takeRight(w)
      val got = Sas7bdat.decodeNumeric(page, 0, w).asInstanceOf[Double]
      val expectBits = java.lang.Double.doubleToLongBits(d) >>> (8 * (8 - w)) << (8 * (8 - w))
      assert(got == java.lang.Double.longBitsToDouble(expectBits), s"width $w")
    }
    // whole-width NaN payload is missing
    val nan = new Array[Byte](8)
    java.nio.ByteBuffer.wrap(nan).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(0, 0xFFFFFE0000000000L) // SAS "." bit pattern seen in real files
    assert(Sas7bdat.decodeNumeric(nan, 0, 8) == null)
  }

  test("multi-page files split into parallel page-range partitions") {
    import spark.implicits._
    // small pages force many pages; small target forces many partitions
    val df = (0 until 5000).map(i => (i.toDouble, s"v$i")).toDF("i", "s")
    val path = tmpFile("pages")
    Sas7bdat.writeDataFrame(df, path, pageSize = 4096)
    val meta = Sas7bdat.inspect(path)
    assert(meta.nPages > 10, s"expected many pages, got ${meta.nPages}")
    val back = Sas7bdat.read(spark, path, targetPartitionBytes = 16 * 4096)
    assert(back.rdd.getNumPartitions > 1)
    assert(back.count() == 5000)
    assert(back.agg(sum("i")).head.getDouble(0) == (4999.0 * 5000 / 2))
  }

  test("RLE codec: decompress(compress(x)) == x on adversarial byte rows") {
    val rnd = new scala.util.Random(42)
    val rows: Seq[Array[Byte]] = Seq(
      Array.fill[Byte](200)(0),                      // long zero run (0x70)
      Array.fill[Byte](200)(' '),                    // long space run (0x60)
      Array.fill[Byte](5000)('x'),                   // long repeat (chained 0xC0)
      Array.tabulate[Byte](300)(i => i.toByte),      // incompressible literal (0x00 op)
      Array.tabulate[Byte](64)(i => i.toByte),       // literal exactly 64 (0xBF)
      Array[Byte](0),                                // lone zero
      Array[Byte](0, 0),                             // minimal zero fill (0xF0)
      Array[Byte]('a', 'a'),                         // sub-threshold repeat stays literal
      Array.tabulate[Byte](4200)(i => (i % 251).toByte), // literal > 4159 chunking
      Array.fill[Byte](17)(0) ++ Array.fill[Byte](16)(0), // 33 zeros spans 0x70/0xF0 split
      Array.tabulate[Byte](1000)(i => if (i % 7 < 3) 0 else rnd.nextInt(256).toByte)
    ) ++ (1 to 20).map(_ => Array.fill(rnd.nextInt(500) + 1)(rnd.nextInt(4) match {
      case 0 => 0.toByte
      case 1 => ' '.toByte
      case 2 => 'z'.toByte
      case _ => rnd.nextInt(256).toByte
    }))
    for ((row, i) <- rows.zipWithIndex) {
      val enc = Sas7bdat.rleCompress(row)
      if (enc != null) {
        assert(enc.length < row.length, s"row $i: non-shrinking encode returned")
        assert(Sas7bdat.rleDecompress(enc, row.length).toSeq == row.toSeq, s"row $i")
      }
    }
    // full opcode table: hand-built stream covering ops the writer never
    // emits (0x40 repeat, 0xD0 '@'-fill)
    val stream = Array[Byte](
      0x40.toByte, 0x00, 'k'.toByte,        // repeat 'k' x 18
      (0xD0 | 0x03).toByte)                 // '@' x 5
    val dec = Sas7bdat.rleDecompress(stream, 18 + 5)
    assert(dec.take(18).forall(_ == 'k'.toByte) && dec.drop(18).forall(_ == '@'.toByte))
  }

  test("compressed (SASYZCRL) round-trip with parallel read; file shrinks") {
    import spark.implicits._
    // wide blank-padded strings + repeated values compress well (narrow
    // rows can't: the format pays a 24-byte pointer per row — same
    // trade-off as real SAS CHAR compression)
    val df = (0 until 20000).map { i =>
      (i.toDouble, if (i % 5 == 0) null else "v" * (i % 40 + 1),
       if (i % 3 == 0) None else Some((i % 10).toDouble),
       "x" * 100 + i.toString)
    }.toDF("i", "pad", "v", "wide")
    val plain = tmpFile("plain"); val comp = tmpFile("comp")
    Sas7bdat.writeDataFrame(df, plain, pageSize = 8 * 1024)
    Sas7bdat.writeDataFrame(df, comp, pageSize = 8 * 1024, compress = true)
    val (szP, szC) = (java.nio.file.Files.size(java.nio.file.Paths.get(plain)),
                      java.nio.file.Files.size(java.nio.file.Paths.get(comp)))
    assert(szC < szP, s"compressed $szC !< plain $szP")
    val meta = Sas7bdat.inspect(comp)
    assert(meta.compression == "SASYZCRL" && meta.rowCount == 20000)
    val back = Sas7bdat.read(spark, comp, targetPartitionBytes = 32 * 8192)
      .select("i", "pad", "v", "wide")
    assert(back.rdd.getNumPartitions > 1)
    val expect = df.collect().map(_.toSeq).toSet
    assert(back.collect().map(_.toSeq).toSet == expect)
  }

  test("RDC codec: hand-built streams decode against independently-computed expectations (r11 #6)") {
    import Sas7bdat.rdcDecompress
    // literal-only: two control words, 20 bytes
    val lit20 = Array.tabulate[Byte](20)(i => (i + 1).toByte)
    val sLit = Array[Byte](0, 0) ++ lit20.take(16) ++ Array[Byte](0, 0) ++ lit20.drop(16)
    assert(rdcDecompress(sLit, 20).toSeq == lit20.toSeq)

    // cmd 0 (short RLE): count = low + 3 = 5, then two literals
    val sShort = Array[Byte](0x80.toByte, 0x00, 0x02, 'X', 'A', 'B')
    assert(rdcDecompress(sShort, 7).toSeq ==
      (Seq.fill(5)('X'.toByte) ++ Seq('A'.toByte, 'B'.toByte)))

    // cmd 1 (long RLE): count = low + (next << 4) + 19 = 1 + 32 + 19 = 52
    val sLong = Array[Byte](0x80.toByte, 0x00, 0x11, 0x02, 'Z')
    assert(rdcDecompress(sLong, 52).toSeq == Seq.fill(52)('Z'.toByte))

    // cmd 6 (short back-reference, count 6, offset 3) over 3 literals:
    // overlapping copy repeats the window -> "ABCABCABC"
    val sBack = Array[Byte](0x10, 0x00, 'A', 'B', 'C', 0x60, 0x00)
    assert(new String(rdcDecompress(sBack, 9), "ISO-8859-1") == "ABCABCABC")

    // cmd 2 (long back-reference): offset = low+3 = 3, count = 2+16 = 18
    // over "XYZ" -> "XYZ" * 7
    val sBack2 = Array[Byte](0x10, 0x00, 'X', 'Y', 'Z', 0x20, 0x00, 0x02)
    assert(new String(rdcDecompress(sBack2, 21), "ISO-8859-1") == "XYZ" * 7)

    // a back-reference before any output is a corrupt stream, not a crash
    val bad = Array[Byte](0x80.toByte, 0x00, 0x60, 0x00)
    intercept[IllegalArgumentException](rdcDecompress(bad, 6))

    // TRUNCATED payloads fail with the codec's own diagnostic, not an
    // ArrayIndexOutOfBounds from a task: mid-control-word (one byte
    // left when a control word is due), and each command missing its
    // operand byte(s)
    val truncCases = Seq(
      Array[Byte](0x00),                        // half a control word
      sLit.take(18) :+ 0x00.toByte,             // 2nd ctrl word cut to 1B
      Array[Byte](0x80.toByte, 0x00),           // cmd byte missing
      Array[Byte](0x80.toByte, 0x00, 0x02),     // cmd0: value missing
      Array[Byte](0x80.toByte, 0x00, 0x11),     // cmd1: count+value missing
      Array[Byte](0x80.toByte, 0x00, 0x11, 0x02), // cmd1: value missing
      Array[Byte](0x10, 0x00, 'X', 'Y', 'Z', 0x20, 0x00), // cmd2: count missing
      Array[Byte](0x10, 0x00, 'A', 'B', 'C', 0x60)        // cmd6: offset missing
    )
    truncCases.foreach { s =>
      val e = intercept[IllegalArgumentException](rdcDecompress(s, 64))
      assert(e.getMessage.contains("RDC"), e.getMessage)
    }

    // encoder round-trip on adversarial rows (runs spanning cmd0/cmd1
    // boundaries, control words straddling 16-item groups)
    val rnd = new scala.util.Random(4242)
    val rows: Seq[Array[Byte]] = Seq(
      Array.fill[Byte](18)('r'),                      // cmd0 ceiling
      Array.fill[Byte](19)('r'),                      // cmd1 floor
      Array.fill[Byte](4114)('r'),                    // cmd1 ceiling
      Array.fill[Byte](4115)('r'),                    // ceiling + 1 spills
      Array.tabulate[Byte](40)(i => i.toByte),        // all literals, 3 words
      Array[Byte]('a', 'a'),                          // sub-threshold stays literal
      Array.fill[Byte](200)(0) ++ Array.tabulate[Byte](33)(i => i.toByte)
    ) ++ (1 to 20).map(_ => Array.fill(rnd.nextInt(600) + 1)(rnd.nextInt(4) match {
      case 0 => 0.toByte
      case 1 => ' '.toByte
      case 2 => 'q'.toByte
      case _ => rnd.nextInt(256).toByte
    }))
    for ((row, i) <- rows.zipWithIndex) {
      val enc = Sas7bdat.rdcCompress(row)
      if (enc != null) {
        assert(enc.length < row.length, s"row $i: non-shrinking encode returned")
        assert(rdcDecompress(enc, row.length).toSeq == row.toSeq, s"row $i")
      }
    }
  }

  test("compressed (SASYZCR2/RDC) round-trip with parallel read; file shrinks (r11 #6)") {
    import spark.implicits._
    val df = (0 until 20000).map { i =>
      (i.toDouble, if (i % 5 == 0) null else "v" * (i % 40 + 1),
       if (i % 3 == 0) None else Some((i % 10).toDouble),
       "x" * 100 + i.toString)
    }.toDF("i", "pad", "v", "wide")
    val plain = tmpFile("plain-rdc"); val comp = tmpFile("comp-rdc")
    Sas7bdat.writeDataFrame(df, plain, pageSize = 8 * 1024)
    Sas7bdat.writeDataFrame(df, comp, pageSize = 8 * 1024,
      compress = true, codec = "SASYZCR2")
    val (szP, szC) = (java.nio.file.Files.size(java.nio.file.Paths.get(plain)),
                      java.nio.file.Files.size(java.nio.file.Paths.get(comp)))
    assert(szC < szP, s"compressed $szC !< plain $szP")
    val meta = Sas7bdat.inspect(comp)
    assert(meta.compression == "SASYZCR2" && meta.rowCount == 20000)
    val back = Sas7bdat.read(spark, comp, targetPartitionBytes = 32 * 8192)
      .select("i", "pad", "v", "wide")
    assert(back.rdd.getNumPartitions > 1)
    val expect = df.collect().map(_.toSeq).toSet
    assert(back.collect().map(_.toSeq).toSet == expect)
  }

  test("unsupported row-subheader compression flag is refused loudly, not silently skipped (ADVICE r9)") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toDouble, "v" * (i % 30 + 1)))
      .toDF("i", "pad")
    val path = tmpFile("badflag")
    Sas7bdat.writeDataFrame(df, path, pageSize = 4096, compress = true)
    val meta  = Sas7bdat.inspect(path)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    // find the first rows page (meta-type with type-1 row pointers) and
    // flip its first pointer's compression flag to an undecodable value
    val nPages = ((bytes.length - meta.headerLength) / meta.pageSize).toInt
    val hit = (0 until nPages).iterator.map { pg =>
      val base = meta.headerLength + pg * meta.pageSize
      val p    = base + 32 + 8 // PageBitOffsetX64 + 8: first pointer
      (base, p)
    }.find { case (base, p) =>
      // type byte 1 at p+17 marks a row subheader
      bytes(p + 17) == 1.toByte
    }
    assert(hit.nonEmpty, "no compressed row page found in fixture")
    bytes(hit.get._2 + 16) = 2.toByte // neither 0/4 (rows) nor 1 (ignore)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val ex = intercept[Exception] {
      Sas7bdat.read(spark, path).count()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else t.getMessage :: chain(t.getCause)
    assert(chain(ex).exists(m => m != null && m.contains("unsupported compression flag")),
      chain(ex).mkString(" | "))
    // TRUNCATED pointers (flag 1) are spec-"ignore": skipping them is
    // correct and must NOT throw — rewrite the same pointer to flag 1
    bytes(hit.get._2 + 16) = 1.toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    // exactly one row (the ignored pointer) disappears
    assert(Sas7bdat.read(spark, path).count() == 499L)
  }

  test("foreign uncompressed file marking METADATA subheaders type 1 is NOT false-refused (ADVICE r12)") {
    import spark.implicits._
    // some producers set the pointer TYPE byte to 1 on metadata
    // subheaders of uncompressed files; the meta-page row-payload guard
    // must corroborate (row-length match OR no known signature) before
    // refusing — a signature-bearing, non-row-length subheader is
    // metadata however its type byte reads
    val df = (0 until 300).map(i => (i.toDouble, s"s$i")).toDF("x", "s")
    val path = tmpFile("foreigntype1")
    Sas7bdat.writeDataFrame(df, path, pageSize = 4096, compress = false)
    val meta = Sas7bdat.inspect(path)
    assert(meta.compression.isEmpty)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    // page 0 carries the metadata subheaders: mark EVERY pointer type 1
    // (the fully-foreign shape — such producers do it uniformly). The
    // pointer layout is the one the ADVICE r9 test walks: nSub at
    // base+32+4 (LE short), pointers of 24 bytes from base+32+8, type
    // byte at +17.
    val base = meta.headerLength
    val nSub = ((bytes(base + 32 + 4) & 0xFF)
      | ((bytes(base + 32 + 5) & 0xFF) << 8))
    assert(nSub > 0, "page 0 carries no subheaders")
    var flipped = 0
    (0 until nSub).foreach { i =>
      val p = base + 32 + 8 + i * 24
      if (bytes(p + 17) != 1.toByte) { bytes(p + 17) = 1.toByte; flipped += 1 }
    }
    assert(flipped > 0, "fixture already marks metadata type 1")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    // the corroborating walk + guard read every row instead of refusing
    // or (worse) silently truncating the metadata walk
    val back = Sas7bdat.read(spark, path)
    assert(back.count() == 300L)
    assert(back.columns.toSeq.sorted == Seq("s", "x"))
  }

  test("compressed row payload colliding with a metadata signature is never signature-dispatched (ADVICE r14)") {
    import spark.implicits._
    // the r12 foreign-producer relaxation let type-1 subheaders with a
    // KNOWN leading signature be treated as metadata — but a COMPRESSED
    // row's payload bytes are arbitrary, so a collision (here: a forged
    // 0xF7F7F7F7 = SigRowSize) would overwrite rowLength mid-walk and
    // corrupt the rest of the parse. The r15 gate applies the override
    // only in uncompressed layouts (compression literal empty AND
    // shComp == 0); in compressed files type-1 stays a row payload.
    val df = (0 until 2000).map(i => (i.toDouble, "pad" * (i % 20 + 1)))
      .toDF("i", "pad")
    val path = tmpFile("sigcollide")
    Sas7bdat.writeDataFrame(df, path, pageSize = 4096, compress = true)
    val meta = Sas7bdat.inspect(path)
    assert(meta.compression == "SASYZCRL")
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    def short(off: Int) = (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
    def long64(off: Int) = java.nio.ByteBuffer.wrap(bytes, off, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    val nPages = ((bytes.length - meta.headerLength) / meta.pageSize).toInt
    // first COMPRESSED row pointer (type 1, comp flag 4, shorter than
    // the row) — it sits on a page the metadata walk still processes
    val hit = (0 until nPages).iterator.flatMap { pg =>
      val base = meta.headerLength + pg * meta.pageSize
      val nSub = short(base + 32 + 4)
      (0 until nSub).iterator.map(i => (base, base + 32 + 8 + i * 24))
    }.find { case (_, p) =>
      bytes(p + 17) == 1.toByte && (bytes(p + 16) & 0xFF) == 4 && {
        val shLen = long64(p + 8)
        shLen >= 4 && shLen != meta.rowLength
      }
    }
    assert(hit.nonEmpty, "no compressed row pointer found in fixture")
    val (base, p) = hit.get
    val shOff = long64(p).toInt
    (0 until 4).foreach(k => bytes(base + shOff + k) = 0xF7.toByte)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val after = Sas7bdat.inspect(path)
    assert(after.rowLength == meta.rowLength && after.rowCount == meta.rowCount
      && after.compression == meta.compression,
      s"signature-colliding row payload corrupted the metadata walk: " +
        s"rowLength ${after.rowLength} vs ${meta.rowLength}, " +
        s"rowCount ${after.rowCount} vs ${meta.rowCount}")
  }

  test("compressed round-trip of a mirror shard (219k real rows)") {
    assume(graft.TestSpark.refExists("sas_data"))
    val shard = spark.read.parquet(graft.TestSpark.ref(
      "sas_data/part-00000-b9542815-7a8d-45fc-9c67-c9c5007ad0d4-c000.snappy.parquet"))
    val path = tmpFile("i94c")
    Sas7bdat.writeDataFrame(shard, path, compress = true)
    assert(Sas7bdat.inspect(path).compression == "SASYZCRL")
    val back = Sas7bdat.read(spark, path).select(
      shard.schema.fieldNames.map(col).toIndexedSeq: _*)
    val key = xxhash64(shard.schema.fieldNames.map(col).toIndexedSeq: _*)
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(key.cast(DecimalType(38, 0)))).head
    assert(digest(shard) == digest(back))
    Files.deleteIfExists(java.nio.file.Paths.get(path))
  }

  test("DSv2: format(\"sas7bdat\") reads match, split in parallel, prune columns at the scan") {
    import spark.implicits._
    val df = (0 until 5000).map(i => (i.toDouble, s"name$i", (i % 7).toDouble))
      .toDF("id", "name", "grp")
    val path = tmpFile("dsv2")
    Sas7bdat.writeDataFrame(df, path, pageSize = 4096)

    val v2 = spark.read.format("sas7bdat").load(path)
    assert(v2.schema.fieldNames.toSeq == Seq("id", "grp", "name")) // file order
    assert(v2.count() == 5000)
    // content matches the RDD-based reader
    val a = v2.select("id", "name", "grp")
    val b = Sas7bdat.read(spark, path).select("id", "name", "grp")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // column pruning reaches the scan: the BatchScan's readSchema is the
    // 2-column projection, visible in the scan description
    val pruned = v2.select("id", "grp").filter(col("grp") === 3.0)
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("id", "grp"),
      scans.head.scan.description())
    assert(pruned.count() == (0 until 5000).count(_ % 7 == 3))
    // split planning: many pages -> >1 input partition at a small target
    val parts = spark.read.format("sas7bdat")
      .option("targetPartitionBytes", 16 * 4096).load(path)
      .rdd.getNumPartitions
    assert(parts > 1)

    // compressed files ride the same scan (per-page subheaders)
    val cpath = tmpFile("dsv2c")
    Sas7bdat.writeDataFrame(df, cpath, pageSize = 4096, compress = true)
    val v2c = spark.read.format("sas7bdat").load(cpath).select("id", "name", "grp")
    assert(v2c.exceptAll(b).isEmpty && b.exceptAll(v2c).isEmpty)
  }

  test("full gate: the 3,096,313-row reference mirror survives the round-trip") {
    assume(graft.TestSpark.refExists("sas_data"))
    val mirror = spark.read.parquet(graft.TestSpark.ref("sas_data"))
    val path = tmpFile("i94")
    val cols = Sas7bdat.writeDataFrame(mirror, path, datasetName = "I94_APR16")
    assert(cols.size == 28)

    val back = Sas7bdat.read(spark, path).select(
      mirror.schema.fieldNames.map(col).toIndexedSeq: _*)
    assert(back.schema == mirror.schema.copy(fields =
      mirror.schema.fields.map(_.copy(nullable = true))))

    // order-independent equality: per-column null counts + a content hash
    // summed over rows (xxhash64 over every column, null-tagged)
    def digest(df: org.apache.spark.sql.DataFrame): Row = {
      val hashAll = sum(xxhash64(df.schema.fieldNames.map(col).toIndexedSeq: _*)
        .cast(DecimalType(38, 0)))
      val nulls = df.schema.fieldNames.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_$c"))
      df.agg(count(lit(1)).as("n"), (hashAll +: nulls.toIndexedSeq): _*).head
    }
    val (a, b) = (digest(mirror), digest(back))
    assert(a == b, s"mirror digest $a != round-trip digest $b")
    assert(a.getLong(0) == 3096313L)
    Files.deleteIfExists(java.nio.file.Paths.get(path))
  }
}
