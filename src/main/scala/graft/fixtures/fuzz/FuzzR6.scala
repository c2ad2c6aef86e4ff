package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._

/** Round-6 differential fuzz vs the reference binary: TYPE-CONFUSED inputs
  * the earlier rounds never generated —
  *  - operand-type confusion: syntactically valid content streams where
  *    operators receive the wrong operand TYPES (strings where numbers are
  *    expected, names where strings are expected, too few / too many
  *    operands). The reference pops raw strings and stof/stoul's them
  *    (throws) or silently mis-executes — whichever it does, the kernel
  *    must do the same;
  *  - malformed page/font dictionary VALUES (wrong types for /Contents,
  *    /MediaBox with non-numeric entries, /Widths with strings inside).
  */
private[fixtures] final class FuzzR6(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  // ---- family A: operand-type confusion --------------------------------------
  def operandConfusion(n: Int): Unit = {
    def operand(): String = rnd.nextInt(5) match {
      case 0 => (rnd.nextInt(1200) - 600).toString
      case 1 => s"(${randWord()})"
      case 2 => s"/${randWord()}"
      case 3 => f"${rnd.nextDouble() * 20 - 10}%.2f"
      case _ => Seq("true", "false", "null")(rnd.nextInt(3))
    }
    val ops = Seq("Td", "TD", "Tm", "TL", "Tc", "Tw", "Tz", "Ts", "Tf", "Tj",
      "TJ", "'", "\"", "cm", "T*")
    (0 until n).foreach { i =>
      val sb = new StringBuilder("BT\n/F1 10 Tf\n60 700 Td\n(seed text) Tj\n")
      (0 to 3 + rnd.nextInt(8)).foreach { _ =>
        val op = ops(rnd.nextInt(ops.length))
        val nOperands = rnd.nextInt(5) // often the wrong arity
        (0 until nOperands).foreach(_ => sb.append(operand()).append(' '))
        sb.append(op).append('\n')
        if (rnd.nextBoolean()) sb.append(s"(${randWord()}) Tj\n")
      }
      sb.append("ET\n")
      dump(f"opc_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ---- family B: malformed dictionary values ----------------------------------
  def malformedDicts(n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes(s"BT\n/F1 11 Tf\n70 700 Td\n(${randWord()} ${randWord()}) Tj\nET\n")
      val variant = i % 5
      val mediaBox = variant match {
        case 0 => "[0 0 612 792]"
        case 1 => "[0 0 (x) 792]" // string inside rectangle
        case 2 => "[0 0 612]" // too few elements
        case _ => "[0 0 612 792]"
      }
      val fontBody = variant match {
        case 3 => // /Widths containing a string
          "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar 65 /LastChar 67 " +
            "/Widths [600 (bad) 600] /Encoding /WinAnsiEncoding >>"
        case 4 => // /FirstChar as a name
          "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar /A /LastChar 67 " +
            "/Widths [600 600 600] /Encoding /WinAnsiEncoding >>"
        case _ => "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /Encoding /WinAnsiEncoding >>"
      }
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, s"<< /Type /Page /Parent 2 0 R /MediaBox $mediaBox " +
          "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
        ObjSpec(5, fontBody))
      dump(f"md_$i%03d", classicXref(objs, 1))
    }
  }

  def run(): Unit = {
    operandConfusion(300)
    malformedDicts(200)
  }
}
