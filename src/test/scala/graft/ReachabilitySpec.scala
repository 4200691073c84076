package graft

import java.nio.file.{Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every main source file is reached from what runs. A main file that only
  * specs reach is a second copy of some behaviour kept in sync by hand with
  * no user: delete it, move it under `src/test` as the reference a spec
  * checks against, or add it to the allowlist with the reason it stays.
  *
  * The walk is file-level over top-level names, with comments stripped. It
  * starts from `SparkEntry`, `GraftExtensions`, every file with a
  * `def main`, the `graft.*` names in string literals (classes loaded by
  * name) and every name the perfbench sources use, and follows a file to
  * each file whose top-level name it mentions. A package object's members
  * are top-level names of its file.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  /** Main files the walk does not reach, each kept for the stated reason;
    * paths are relative to `src/main/scala/graft`. */
  private val allowlist = Map(
    "streaming/MetricsListener.scala" ->
      "streaming lag and latency metrics; only EtlStreamSpec registers it until EtlMain and EtlBench do")

  private lazy val walk = new Walk(MainSources.files, MainSources.read(Paths.get("perfbench/src")))

  test("every main source file is reached from an entry point or allowlisted") {
    val missed = walk.unreached.filterNot(allowlist.contains)
    assert(missed.isEmpty, s"main files that no entry point reaches: $missed")
  }

  test("every allowlist entry names a main file the walk does not reach") {
    val stale = allowlist.keys.toSeq.sorted
      .filterNot(f => walk.files.contains(f) && walk.unreached.contains(f))
    assert(stale.isEmpty, s"allowlist entries that are reached or gone: $stale")
  }
}

object ReachabilitySpec {
  private val Root = Paths.get("src/main/scala/graft")
  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val TopLevel = """\b(?:class|object|trait)\s+([A-Za-z_]\w*)""".r
  private val Member = """\b(?:class|object|trait|type|def|val|var)\s+([A-Za-z_]\w*)""".r
  private val PackageObject = """\bpackage\s+object\s+\w+""".r
  private val PackageClause = """(?m)^\s*package\s+[\w.]+\s*$""".r
  private val Main = """\bdef\s+main\s*\(""".r
  private val NamedClass = """\bgraft\.([\w.]+)""".r
  private val RootNames = Set("SparkEntry", "GraftExtensions")

  /** A Scala source split for the walk: `code` has comments removed and
    * each string literal emptied (so braces in strings cannot shift the
    * nesting depth); `strings` holds the literals' text. */
  final case class Lexed(code: String, strings: Seq[String]) {

    /** Identifiers the file mentions, in code and in string literals (an
      * interpolated string holds code); a package clause mentions nothing. */
    def mentions: Set[String] =
      (PackageClause.replaceAllIn(code, "") +: strings)
        .flatMap(Ident.findAllIn).toSet

    /** Names this file defines at the top level: its classes, objects and
      * traits, and the members of a package object. */
    def topLevelNames: Set[String] = {
      val depth = new Array[Int](code.length)
      var d = 0
      for (i <- code.indices) {
        depth(i) = d
        code.charAt(i) match {
          case '{' => d += 1
          case '}' => d -= 1
          case _ =>
        }
      }
      val top = TopLevel.findAllMatchIn(code)
        .filter(m => depth(m.start) == 0 && !code.substring(0, m.start).trim.endsWith("package"))
        .map(_.group(1))
      val objects = PackageObject.findAllMatchIn(code).filter(m => depth(m.start) == 0)
      val members = objects.toSeq.flatMap { m =>
        val open = code.indexOf('{', m.end)
        val close = (open + 1 until code.length).find(i => depth(i) == 1 && code.charAt(i) == '}')
          .getOrElse(code.length)
        Member.findAllMatchIn(code.substring(open + 1, close))
          .filter(x => depth(open + 1 + x.start) == 1).map(_.group(1))
      }
      (top ++ members).toSet
    }

    def hasMain: Boolean = Main.findFirstIn(code).isDefined
  }

  /** Splits `src` into code and string literals. Handles nested block
    * comments, triple-quoted strings, escapes and character literals. */
  def lex(src: String): Lexed = {
    val code = new StringBuilder
    val strings = Seq.newBuilder[String]
    val n = src.length
    def at(k: Int): Char = if (k < n) src.charAt(k) else '\u0000'
    var i = 0
    while (i < n) {
      val c = src.charAt(i)
      if (c == '/' && at(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && at(i + 1) == '*') {
        var nest = 1
        i += 2
        while (i < n && nest > 0) {
          if (src.startsWith("/*", i)) { nest += 1; i += 2 }
          else if (src.startsWith("*/", i)) { nest -= 1; i += 2 }
          else i += 1
        }
        code += ' '
      } else if (src.startsWith("\"\"\"", i)) {
        var end = src.indexOf("\"\"\"", i + 3)
        if (end < 0) end = n
        while (at(end + 3) == '"') end += 1
        strings += src.substring(i + 3, end)
        code ++= "\"\"\"\"\"\""
        i = end + 3
      } else if (c == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        strings += src.substring(i + 1, math.min(j, n))
        code ++= "\"\""
        i = j + 1
      } else if (c == '\'' && at(i + 1) == '\\') {
        val end = src.indexOf('\'', i + 3)
        i = if (end < 0) n else end + 1
        code ++= "' '"
      } else if (c == '\'' && at(i + 2) == '\'') {
        i += 3
        code ++= "' '"
      } else {
        code += c
        i += 1
      }
    }
    Lexed(code.result(), strings.result())
  }

  /** The walk over `mainFiles` (every file under `src/main`), started from
    * the entry points and from the names `rootFiles` mention. */
  final class Walk(mainFiles: Seq[(Path, String)], rootFiles: Seq[(Path, String)]) {
    private val lexed: Map[String, Lexed] = mainFiles.collect {
      case (p, text) if p.toString.endsWith(".scala") =>
        Root.relativize(p).toString.replace('\\', '/') -> lex(text)
    }.toMap

    /** Main Scala files, relative to `src/main/scala/graft`. */
    val files: Set[String] = lexed.keySet

    private val definers: Map[String, Set[String]] = lexed.toSeq
      .flatMap { case (f, l) => l.topLevelNames.map(_ -> f) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap

    /** Main files no walk from the entry points reaches, sorted. */
    val unreached: Seq[String] = {
      val loadedByName = lexed.values.flatMap(_.strings)
        .flatMap(s => NamedClass.findAllMatchIn(s).flatMap(_.group(1).split('.')))
      val fromRoots = rootFiles.collect {
        case (p, text) if p.toString.endsWith(".scala") => lex(text).mentions
      }.flatten
      val rootNames = RootNames ++ loadedByName ++ fromRoots
      val start = lexed.collect { case (f, l) if l.hasMain => f }.toSet ++
        rootNames.flatMap(n => definers.getOrElse(n, Set.empty))
      val seen = scala.collection.mutable.Set.empty[String] ++ start
      val todo = scala.collection.mutable.Queue.empty[String] ++ start
      while (todo.nonEmpty) {
        for (name <- lexed(todo.dequeue()).mentions; f <- definers.getOrElse(name, Set.empty)
             if seen.add(f)) todo.enqueue(f)
      }
      (files -- seen).toSeq.sorted
    }
  }
}
