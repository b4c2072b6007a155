package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seed-determined ingestion inputs: the same seed writes the same bytes. */
object Inputs {
  private val words = Seq("alpha", "bravo", "delta", "echo", "kilo", "lima",
    "nova", "oscar", "quartz", "sierra", "tango", "zulu")
  private val colors = Seq("red", "green", "blue", "black", "white")
  // escapes the canonical renderer must handle: quote, backslash, control
  // characters, non-ASCII and an astral code point
  private val odd = Seq("say \\\"hi\\\"", "back\\\\slash", "tab\\tand\\nnewline",
    "café crème", "snow ☃", "emoji \\ud83d\\ude00", "plain")

  /** A top-level JSON array of `records` nested objects (the reference's own
    * input shape): objects, arrays, 2-dp decimals, escapes and nulls.
    * Returns the file size in bytes. */
  def writeJson(path: Path, records: Int, seed: Long): Long = {
    val rnd = new SplittableRandom(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def dec(max: Int): String = {
      val cents = rnd.nextInt(max * 100)
      s"${cents / 100}.${"%02d".format(cents % 100)}"
    }
    Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write("[\n")
      var i = 0
      while (i < records) {
        if (i > 0) w.write(",\n")
        val name = (0 until 1 + rnd.nextInt(4)).map(_ => pick(words)).mkString(" ")
        val tags = (0 until rnd.nextInt(4)).map(_ => "\"" + pick(words) + "\"")
          .mkString("[", ",", "]")
        val ratings = (0 until 1 + rnd.nextInt(3)).map(_ => dec(5)).mkString("[", ",", "]")
        val discount = if (rnd.nextInt(3) == 0) "null" else dec(1)
        val height = if (rnd.nextInt(4) == 0) "null" else dec(200)
        val note = if (rnd.nextInt(2) == 0) "null" else "\"" + pick(odd) + "\""
        w.write(s"""{"id":$i,"sku":"SKU-${"%07d".format(rnd.nextInt(10000000))}",""" +
          s""""name":"$name","price":${dec(1000)},"qty":${rnd.nextInt(500)},""" +
          s""""active":${rnd.nextBoolean()},"discount":$discount,""" +
          s""""attrs":{"color":"${pick(colors)}","tags":$tags,""" +
          s""""dims":{"w":${dec(200)},"h":$height,"unit":"cm"}},""" +
          s""""ratings":$ratings,"note":$note}""")
        i += 1
      }
      w.write("\n]\n")
    } finally w.close()
    Files.size(path)
  }
}
