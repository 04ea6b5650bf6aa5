package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Legacy-xls parity specs against the reference suite's own
  * `players.xls` fixture (produced by real Excel/POI): the counts its
  * XlsSourceTest asserts — 7 rows x 6 columns, string-typed values,
  * only the ID=7 row's `score` null, color groups green=2/blue=1/
  * purple=1 — plus startOnRow behavior. */
class XlsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-xls-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val playersXls = "/root/reference/src/test/resources/players.xls"
  private def havePlayers = new java.io.File(playersXls).exists()

  test("players.xls golden parity: shape, IDs, groups (reference XlsSourceTest)") {
    assume(havePlayers)
    val df = Xls.read(spark, playersXls).toDF
    assert(df.count() == 7)
    assert(df.columns.length == 6)
    assert(df.columns.contains("ID") && df.columns.contains("color"))
    val ids = df.select("ID").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == (1 to 7).map(_.toString).sorted)
    val colors = df.groupBy("color").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(colors("green") == 2L)
    assert(colors("blue") == 1L)
    assert(colors("purple") == 1L)
    // reference: only row ID=7 may have a null (its score cell)
    val nullRows = df.filter(df.columns.map(col(_).isNull).reduce(_ || _))
      .select("ID").collect().map(_.getString(0)).toSet
    assert(nullRows.subsetOf(Set("7")))
  }

  test("players.xls startOnRow shifts the header row") {
    assume(havePlayers)
    // startOnRow=1: the first DATA row becomes the header, 6 rows left
    val df = Xls.read(spark, playersXls, startOnRow = 1).toDF
    assert(df.count() == 6)
  }

  // ------------------------------------------------ formula-string mode

  test("formula cells: cached values by default, formula text on outputFormulaValues=false") {
    val wb = Biff.workbook(
      Biff.label(0, 0, "a"), Biff.label(0, 1, "b"), Biff.label(0, 2, "f"),
      Biff.number(1, 0, 3), Biff.number(1, 1, 4),
      // f2 = A2+B2*2, cached 11
      Biff.formulaNum(1, 2, 11,
        Biff.tRef(1, 0) ++ Biff.tRef(1, 1) ++ Biff.tInt(2) ++ Biff.tMul ++ Biff.tAdd),
      // f3 = "x"&"y", cached string "xy" via the trailing STRING record
      Biff.formulaStr(2, 2, "xy", Biff.tStr("x") ++ Biff.tStr("y") ++ Biff.tConcat))
    val vals = XlsParser.parse(wb, null, "yyyy-MM-dd")
    assert(vals.headers == Vector("a", "b", "f"))
    assert(vals.rows == Vector(
      Vector("3", "4", "11"), Vector(null, null, "xy")))
    val fx = XlsParser.parse(wb, null, "yyyy-MM-dd", outputFormulaValues = false)
    assert(fx.rows == Vector(
      Vector("3", "4", "A2+B2*2"), Vector(null, null, "\"x\"&\"y\"")))
    // and through the Spark reader
    val dir = java.nio.file.Files.createTempDirectory("graft-xls-fx")
    java.nio.file.Files.write(dir.resolve("fx.xls"), wb)
    val df = Xls.read(spark, dir.toString, outputFormulaValues = false).toDF
    assert(df.select("f").collect().map(_.getString(0)).toSet
      == Set("A2+B2*2", "\"x\"&\"y\""))
  }

  test("XlsFormula.decompile: parens fidelity, functions, anchors, attrs, loud unsupported") {
    import Biff._
    def d(t: Array[Byte]*) = XlsFormula.decompile(t.flatten.toArray)
    // stored tParen is reproduced, not inferred
    assert(d(tRef(0, 0), tRef(0, 1), tAdd, tParen, tRef(0, 2), tMul)
      == "(A1+B1)*C1")
    assert(d(tRef(0, 0), tRef(0, 1), tRef(0, 2), tMul, tAdd) == "A1+B1*C1")
    // variable- and fixed-arity builtins
    assert(d(tArea(0, 9, 0, 1), tFuncVar(1, 4)) == "SUM(A1:B10)")
    assert(d(Array[Byte](0x1F) ++ {
      val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putDouble(2.5).array()
    }, tInt(0), tFunc(27)) == "ROUND(2.5,0)")
    // IF with a missing argument (tMissArg renders empty)
    assert(d(tRef(0, 0), Array[Byte](0x16), tInt(2), tFuncVar(3, 1)) == "IF(A1,,2)")
    // absolute anchors
    assert(d(tRef(0, 0, rel = false)) == "$A$1")
    // unary minus + percent, embedded-quote strings, error literals
    assert(d(tInt(5), Array[Byte](0x13), Array[Byte](0x14)) == "-5%")
    assert(d(tStr("say \"hi\"")) == "\"say \"\"hi\"\"\"")
    assert(d(Array[Byte](0x1C, 0x07)) == "#DIV/0!")
    // tAttrSum shorthand renders as SUM(..)
    assert(d(tArea(0, 4, 0, 0), Array[Byte](0x19, 0x10, 0, 0)) == "SUM(A1:A5)")
    // unsupported tokens fail loudly with NAMED errors
    val e = intercept[IllegalArgumentException](
      d(Array[Byte](0x20, 0, 0, 0, 0, 0, 0, 0))) // tArray with EMPTY rgcb
    assert(e.getMessage.contains("truncated"))
    val e2 = intercept[IllegalArgumentException](d(Array[Byte](0x01, 0, 0, 0, 0)))
    assert(e2.getMessage.contains("shared-formula"))
    // a name index against an EMPTY ctx names the problem, too
    val e3 = intercept[IllegalArgumentException](d(Array[Byte](0x23, 1, 0, 0, 0)))
    assert(e3.getMessage.contains("undefined name"))
  }

  test("array constants: tArray values render from the rgcb tail") {
    import Biff._
    // SUM({1,2;3,4}) — 2 cols × 2 rows, cached 10
    val wb = workbook(
      label(0, 0, "f"),
      formulaNum(1, 0, 10, tArray ++ tFuncVar(1, 4),
        serArray(2, 2, Seq(1.0, 2.0, 3.0, 4.0))))
    val vals = XlsParser.parse(wb, null, "yyyy-MM-dd")
    assert(vals.rows == Vector(Vector("10")))
    val fx = XlsParser.parse(wb, null, "yyyy-MM-dd", outputFormulaValues = false)
    assert(fx.rows == Vector(Vector("SUM({1,2;3,4})")))
    // mixed types: string (embedded quotes doubled), bool, error
    assert(XlsFormula.decompile(tArray, XlsFormula.emptyCtx, None,
      serArray(3, 1, Seq("""say "hi"""", true, 0x2A)))
      == "{\"say \"\"hi\"\"\",TRUE,#N/A}")
    // two tArray tokens consume rgcb IN ORDER
    assert(XlsFormula.decompile(tArray ++ tArray ++ Biff.tAdd,
      XlsFormula.emptyCtx, None,
      serArray(1, 1, Seq(5.0)) ++ serArray(1, 1, Seq(7.0))) == "{5}+{7}")
    // SerNil (legal empty slot) renders as an empty element
    assert(XlsFormula.decompile(tArray, XlsFormula.emptyCtx, None,
      Array[Byte](1, 0, 0, /*nil*/ 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
        serArray(1, 1, Seq(9.0)).drop(3)) == "{,9}")
    // truncated rgcb mid-array fails loudly as truncation
    val e = intercept[IllegalArgumentException](
      XlsFormula.decompile(tArray, XlsFormula.emptyCtx, None,
        serArray(2, 2, Seq(1.0, 2.0, 3.0, 4.0)).dropRight(4)))
    assert(e.getMessage.contains("truncated"))
  }

  test("XlsFormula.decompile: 3-D refs, sheet spans, quoting, deleted sheets, defined names") {
    import Biff._
    val ctx = XlsFormula.Ctx(
      sheets = Vector("Sheet1", "My Sheet", "Sales"),
      xti = Vector((0, 1, 1), (0, 0, 2), (0, -1, -1), (1, 0, 0), (0, 2, 2)),
      supbookInternal = Vector(true, false),
      names = Vector("TaxRate", "_FilterDatabase"))
    def d(t: Array[Byte]*) = XlsFormula.decompile(t.flatten.toArray, ctx)
    // sheet needing quotes; absolute-free A1-style ref
    assert(d(tRef3d(0, 0, 0)) == "'My Sheet'!A1")
    assert(d(tRef3d(4, 1, 1)) == "Sales!B2")
    // multi-sheet span: plain ends stay unquoted (quoting is one body
    // when either end needs it — the e2e spec covers that arm)
    assert(d(tRef3d(1, 0, 0)) == "Sheet1:Sales!A1")
    assert(d(tArea3d(4, 0, 9, 0, 1)) == "Sales!A1:B10")
    // deleted sheet (itab = -1) → #REF!; a span whose LAST endpoint is
    // dead must poison the prefix too, never silently shrink to a
    // single-sheet reference
    assert(d(tRef3d(2, 0, 0)) == "#REF!A1")
    assert(XlsFormula.decompile(tRef3d(0, 0, 0),
      ctx.copy(xti = Vector((0, 0, -1)))) == "#REF!A1")
    // defined names (tName is 1-based), inside an expression
    assert(d(tName(1)) == "TaxRate")
    assert(d(tRef3d(4, 0, 0), tName(1), tMul) == "Sales!A1*TaxRate")
    assert(d(tName(2)) == "_FilterDatabase")
    // a sheet NAMED like a cell ref (or a boolean) must quote, or the
    // rendered text re-parses as a cell/boolean instead of a sheet
    val trap = ctx.copy(sheets = Vector("A1", "TRUE", "S3"))
    // "S3" itself is a valid cell address, so it must quote too
    assert(XlsFormula.decompile(tRef3d(4, 1, 1), trap) == "'S3'!B2")
    assert(XlsFormula.decompile(tRef3d(0, 0, 0),
      trap.copy(xti = Vector((0, 0, 0)))) == "'A1'!A1")
    assert(XlsFormula.decompile(tRef3d(0, 0, 0),
      trap.copy(xti = Vector((0, 1, 1)))) == "'TRUE'!A1")
    // external-workbook supbook fails loudly, by name
    val e = intercept[IllegalArgumentException](d(tRef3d(3, 0, 0)))
    assert(e.getMessage.contains("external-workbook"))
    // undefined XTI entry fails loudly
    val e2 = intercept[IllegalArgumentException](d(tRef3d(9, 0, 0)))
    assert(e2.getMessage.contains("EXTERNSHEET"))
  }

  test("shared formulas: tExp stubs dereference SHRFMLA, relative tokens rebase per member cell") {
    import Biff._
    // col B = A*2 drag-filled over B2:B3 — Excel stores ONE template
    // (SHRFMLA after the master FORMULA) and a tExp stub in every
    // member cell; the template ref is RELATIVE (row +0, col -1)
    val template = tRefN(0, -1) ++ tInt(2) ++ tMul
    val wb = workbook(
      label(0, 0, "a"), label(0, 1, "f"),
      number(1, 0, 3), number(2, 0, 5),
      formulaNum(1, 1, 6, tExp(1, 1)) ++ shrfmla(1, 2, 1, 1, template),
      formulaNum(2, 1, 10, tExp(1, 1)))
    // cached-value mode ignores the stubs entirely
    val vals = XlsParser.parse(wb, null, "yyyy-MM-dd")
    assert(vals.rows == Vector(Vector("3", "6"), Vector("5", "10")))
    // formula-text mode: each member renders REBASED to its own cell
    val fx = XlsParser.parse(wb, null, "yyyy-MM-dd", outputFormulaValues = false)
    assert(fx.rows == Vector(Vector("3", "A2*2"), Vector("5", "A3*2")))
    // mixed anchors: absolute row survives the rebase ($ on row only)
    assert(XlsFormula.decompile(
      tRefN(5, 2, rowRel = false, colRel = true),
      XlsFormula.emptyCtx, Some((0, 0))) == "C$6")
    // tRefN outside a shared template fails loudly
    val e = intercept[IllegalArgumentException](
      XlsFormula.decompile(tRefN(0, 0)))
    assert(e.getMessage.contains("outside a shared-formula"))
    // a stub with no SHRFMLA/ARRAY target fails loudly
    val orphan = workbook(label(0, 0, "a"), formulaNum(1, 0, 0, tExp(9, 9)))
    val e2 = intercept[IllegalArgumentException](
      XlsParser.parse(orphan, null, "yyyy-MM-dd", outputFormulaValues = false))
    assert(e2.getMessage.contains("no SHRFMLA/ARRAY"))
    // array FORMULA: both member cells render the ARRAY record's rgce,
    // relative tokens anchored on the range TOP-LEFT (Excel shows the
    // same formula text in every member of {=A2:A3*2})
    val arr = workbook(
      label(0, 0, "a"), label(0, 1, "f"),
      number(1, 0, 3), number(2, 0, 5),
      formulaNum(1, 1, 6, tExp(1, 1)) ++
        arrayRec(1, 1, tAreaN(0, 1, -1, -1) ++ tInt(2) ++ tMul),
      formulaNum(2, 1, 10, tExp(1, 1)))
    val afx = XlsParser.parse(arr, null, "yyyy-MM-dd", outputFormulaValues = false)
    assert(afx.rows == Vector(Vector("3", "A2:A3*2"), Vector("5", "A2:A3*2")))
  }

  test("multi-sheet workbook end-to-end: Sheet2!A1 formulas render from EXTERNSHEET/LBL plumbing") {
    val wb = Biff.workbook3d(
      lbls = Seq(Biff.lbl("TaxRate"), Biff.lbl("\u0006", builtin = true)),
      xti = Seq((0, 1, 1), (0, 0, 1)),
      Biff.label(0, 0, "a"), Biff.label(0, 1, "f"), Biff.label(0, 2, "g"),
      Biff.number(1, 0, 3),
      // f2 = 'My Sheet'!A1*TaxRate (cached 21), g2 = SUM(S:My Sheet!A1:A1)
      Biff.formulaNum(1, 1, 21,
        Biff.tRef3d(0, 0, 0) ++ Biff.tName(1) ++ Biff.tMul),
      Biff.formulaNum(1, 2, 7,
        Biff.tArea3d(1, 0, 0, 0, 0) ++ Biff.tFuncVar(1, 4)))
    // cached-value mode unaffected by the new globals
    val vals = XlsParser.parse(wb, null, "yyyy-MM-dd")
    assert(vals.rows == Vector(Vector("3", "21", "7")))
    // formula-text mode renders 3-D refs + names via the workbook ctx
    val fx = XlsParser.parse(wb, null, "yyyy-MM-dd", outputFormulaValues = false)
    assert(fx.rows == Vector(Vector(
      "3", "'My Sheet'!A1*TaxRate", "SUM('S:My Sheet'!A1:A1)")))
    // the second sheet parses by name, proving the offsets are real
    val s2 = XlsParser.parse(wb, "My Sheet", "yyyy-MM-dd")
    assert(s2.headers == Vector("7"))
  }

  test("XlsFormula.decompile: hostile token streams return or throw IllegalArgument, fast") {
    // random rgce bytes: every outcome must be a string or a LOUD
    // IllegalArgumentException (unsupported token, truncation, stack
    // underflow/leftovers) — never another exception type, never a
    // hang. 2000 streams bound the walk behavior, not just one case.
    val rnd = new scala.util.Random(19)
    var ok = 0
    var rejected = 0
    (0 until 2000).foreach { _ =>
      val bytes = new Array[Byte](rnd.nextInt(40))
      rnd.nextBytes(bytes)
      try { XlsFormula.decompile(bytes); ok += 1 }
      catch { case _: IllegalArgumentException => rejected += 1 }
    }
    assert(ok + rejected == 2000)
    assert(rejected > 0, "fuzz produced no rejects — streams too tame")
    // same walk-behavior bound with the round-20 surface live: a
    // populated ctx (3-D/name tokens resolve instead of rejecting), a
    // member-cell base (tRefN/tAreaN resolve), and a random rgcb
    // (tArray reads from it) — every outcome still string-or-IAE
    val ctx = XlsFormula.Ctx(
      sheets = Vector("S1", "My Sheet"),
      xti = Vector((0, 0, 0), (0, 1, 1), (0, -1, -1)),
      supbookInternal = Vector(true),
      names = Vector("N1", "N2"))
    var ok2 = 0
    var rejected2 = 0
    (0 until 2000).foreach { _ =>
      val bytes = new Array[Byte](rnd.nextInt(40))
      rnd.nextBytes(bytes)
      val rgcb = new Array[Byte](rnd.nextInt(30))
      rnd.nextBytes(rgcb)
      try { XlsFormula.decompile(bytes, ctx, Some((3, 2)), rgcb); ok2 += 1 }
      catch { case _: IllegalArgumentException => rejected2 += 1 }
    }
    assert(ok2 + rejected2 == 2000)
    assert(rejected2 > 0)
  }
}
