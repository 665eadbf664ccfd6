package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-file hygiene: every `.scala` file under src/ must be valid UTF-8
  * with no raw control characters. A single stray byte flips `grep` into
  * binary mode, which SILENTLY drops the file from every text audit run over
  * the tree — including leak/copy scans, where an unscanned file reads as a
  * clean file (r15: a literal NUL inside a string in Embedder.scala did
  * exactly that for four rounds). A backslash-u escape in the string literal expresses the
  * same runtime value without poisoning the file. */
class SourceHygieneSpec extends AnyFunSuite {

  private lazy val scalaFiles: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
  }

  test("every .scala source file is valid UTF-8 with no raw control chars") {
    assert(scalaFiles.size > 50, s"suspiciously few sources: ${scalaFiles.size}")
    val decoder = () => java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    val bad = scalaFiles.flatMap { p =>
      val bytes = java.nio.file.Files.readAllBytes(p)
      val utf8 =
        try { decoder().decode(java.nio.ByteBuffer.wrap(bytes)); None }
        catch { case e: java.nio.charset.CharacterCodingException =>
          Some(s"$p: invalid UTF-8 ($e)") }
      // raw control bytes other than \t \n \r — anything here turns grep
      // binary regardless of UTF-8 validity
      val ctrl = bytes.indexWhere(b =>
        b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r')
      val ctrlMsg =
        if (ctrl >= 0) Some(f"$p: raw control byte 0x${bytes(ctrl)}%02x at offset $ctrl")
        else None
      utf8.toSeq ++ ctrlMsg.toSeq
    }
    assert(bad.isEmpty, "non-text source files (invisible to grep audits):\n" +
      bad.mkString("\n"))
  }

  /** Sessions come from one profile, so the engine's settings cannot drift
    * apart between mains and tests. */
  test("only EngineSession builds a SparkSession") {
    val profile = java.nio.file.Paths.get("src/main/scala/graft/EngineSession.scala")
    assert(java.nio.file.Files.isRegularFile(profile), s"missing $profile")
    val builders = scalaFiles.filter(p => p.normalize != profile.normalize &&
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession" + ".builder"))
    assert(builders.isEmpty,
      "build sessions with EngineSession.builder(), not in:\n" + builders.mkString("\n"))
  }

  /** A write that stages under a fixed path shares it with every concurrent
    * writer of the same table, and a crash leaves it behind for the next
    * one to trip over: staging directories must be unique per write. */
  test("no fixed staging suffix under src/main") {
    val suffixes = Seq("__compact" + "_tmp", "__tmp" + "_")
    val hits = scalaFiles.filter(_.toString.contains("src/main")).flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      suffixes.filter(text.contains).map(s => s"$p: $s")
    }
    assert(hits.isEmpty, "stage into a unique directory, not a fixed suffix:\n" +
      hits.mkString("\n"))
  }
}
