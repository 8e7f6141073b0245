package graft.perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files
import java.nio.{ByteBuffer, ByteOrder}

import graft.sources.Blast

/** A seeded DATASUS-shaped month of `.dbc` files: 92 string columns,
  * spread over tipo x UF file names and two competências. One file in four
  * is imploded with matches (Blast's copy path), the others with coded
  * literals only (its literal path, much faster to generate). The bytes
  * depend only on (seed, records). */
object Month {
  val Tipos = Seq("PA", "PS", "AB")
  val Ufs = Seq("PE", "AL", "PB", "SP")

  val fields: Seq[(String, Int)] =
    Seq("AP_MVM" -> 6, "AP_CONDIC" -> 2, "AP_GESTAO" -> 6, "AP_CODUNI" -> 7) ++
      (0 until 88).map(i => f"AP_F$i%02d" -> 1)
  val recordSize: Int = 1 + fields.map(_._2).sum
  private val headerSize = 32 + 32 * fields.size + 1

  final case class Spec(files: Seq[String], recordsPerFile: Map[String, Int]) {
    def records: Long = recordsPerFile.values.map(_.toLong).sum
  }

  /** File names and record counts, without generating any bytes. */
  def spec(seed: Long, records: Int): Spec = {
    val yy = 20 + (seed % 5).toInt
    val mm = 1 + (seed % 12).toInt
    val prev = if (mm == 1) f"${yy - 1}%02d12" else f"$yy%02d${mm - 1}%02d"
    val names = for (t <- Tipos; u <- Ufs) yield
      s"$t$u${if (t == "AB") prev else f"$yy%02d$mm%02d"}.dbc"
    val n = names.size
    Spec(names, names.zipWithIndex.map { case (f, i) =>
      f -> (records / n + (if (i < records % n) 1 else 0))
    }.toMap)
  }

  /** `Month <dir> <seed> <records>`: writes one month. */
  def main(args: Array[String]): Unit =
    ensure(new File(args(0)), args(1).toLong, args(2).toInt)

  /** Writes the month into `dir` unless a complete copy is already there. */
  def ensure(dir: File, seed: Long, records: Int): Spec = {
    val sp = spec(seed, records)
    val marker = new File(dir, "_COMPLETE")
    if (!marker.exists()) {
      dir.mkdirs()
      sp.files.zipWithIndex.foreach { case (f, i) =>
        val bytes = dbc(seed * 131 + i, f, sp.recordsPerFile(f), matches = i % 4 == 0)
        Files.write(new File(dir, f).toPath, bytes)
      }
      Files.write(marker.toPath, Array.emptyByteArray)
    }
    sp
  }

  private def dbc(seed: Long, name: String, n: Int, matches: Boolean): Array[Byte] = {
    val rng = new java.util.SplittableRandom(seed)
    val head = ByteBuffer.allocate(headerSize).order(ByteOrder.LITTLE_ENDIAN)
    head.put(0, 0x03.toByte)
    head.putInt(4, n)
    head.putShort(8, headerSize.toShort)
    head.putShort(10, recordSize.toShort)
    var off = 32
    fields.foreach { case (fname, w) =>
      val nb = fname.getBytes(ISO_8859_1)
      nb.indices.foreach(k => head.put(off + k, nb(k)))
      head.put(off + 11, 'C'.toByte)
      head.put(off + 16, w.toByte)
      off += 32
    }
    head.put(off, 0x0D.toByte)

    val mvm = ("20" + name.takeRight(8).take(4)).getBytes(ISO_8859_1)
    val ufCode = 20 + Ufs.indexOf(name.slice(2, 4)) * 3
    val body = new Array[Byte](n * recordSize)
    val condic = Array("EP", "PE", "MN", "ES")
    var r = 0
    var p = 0
    while (r < n) {
      body(p) = 0x20
      var c = p + 1
      System.arraycopy(mvm, 0, body, c, 6); c += 6
      val cd = condic(rng.nextInt(condic.length)).getBytes(ISO_8859_1)
      System.arraycopy(cd, 0, body, c, 2); c += 2
      val gestao = f"$ufCode%02d${rng.nextInt(40) * 25}%04d".getBytes(ISO_8859_1)
      System.arraycopy(gestao, 0, body, c, 6); c += 6
      val coduni = f"${ufCode}0${rng.nextInt(300)}%04d".getBytes(ISO_8859_1)
      System.arraycopy(coduni, 0, body, c, 7); c += 7
      var k = 0
      while (k < 88) {
        // skewed one-character codes, blank (null) about one time in eight
        val v = rng.nextInt(16)
        body(c) = if (v < 2) ' '.toByte else if (v < 9) '0'.toByte else ('0' + (k + v) % 10).toByte
        c += 1; k += 1
      }
      r += 1; p += recordSize
    }
    val imploded = if (matches) Blast.implode(body, codedLiterals = true) else Blast.implodeCodedLiterals(body)
    val out = new ByteArrayOutputStream(headerSize + 4 + imploded.length + 1)
    out.write(head.array())
    out.write(Array[Byte](0, 0, 0, 0))
    out.write(imploded)
    out.toByteArray
  }
}
