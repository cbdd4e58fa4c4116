package graft.iql

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session layer: multi-tenant knowledge graphs + dot-command dispatch
  * (reference: `.kg`/`.rel`/`.rule`/`.load` meta commands,
  * `src/statement/meta.rs:7-110`; KG storage `src/storage_engine/mod.rs`).
  */
object Repl {
  sealed trait Result
  final case class Text(lines: Seq[String]) extends Result
  final case class Table(df: DataFrame) extends Result

  /** Parse a ground atom like `reach(1, 3)` (shared by the REPL's
    * `.why`/`.why_not` and the wire server's proof-tree responses). */
  private[graft] def parseGroundAtom(src: String): Ast.Atom = {
    val p = new Parser.P(Parser.tokenize(src))
    Parser.parseAtom(p)
  }
}

final class Session(val spark: SparkSession,
                    val loadBasePath: String = ".",
                    sharedKgs: mutable.LinkedHashMap[String, Catalog] = null,
                    limits: Engine.Limits = Engine.Limits()) {
  import Repl._

  /** KG map — injectable so a server can share persistent catalogs across
    * connections while each connection keeps its own session overlay
    * (reference: sessions share the storage engine, `src/session.rs`). */
  private val kgs =
    if (sharedKgs != null) sharedKgs
    else mutable.LinkedHashMap("default" -> new Catalog(spark))
  private val engines = mutable.HashMap.empty[String, Engine]
  private var currentKg = "default"

  /** The session's active knowledge graph (per-KG ACL checks key on it). */
  def kg: String = currentKg

  def catalog: Catalog = kgs.synchronized { kgs(currentKg) }
  def engine: Engine = engines.getOrElseUpdate(currentKg, new Engine(catalog, limits))

  /** WAL-lite durability (reference `src/storage/persist/wal.rs:14-21`
    * SEMANTICS, not format: mutations since the last snapshot replay on
    * open): once the session is bound to a storage directory (`.open` /
    * `.save`), every IQL program that changed the catalog appends to
    * `<dir>/wal.iql`; `.open` replays the log after loading the
    * snapshot, `.save` truncates it (the snapshot now holds the state). */
  private var walDir: Option[String] = None
  private def walFile(dir: String) = new java.io.File(dir, "wal.iql")
  private def walAppend(program: String): Unit = walDir.foreach { dir =>
    val w = new java.io.FileWriter(walFile(dir), true)
    try {
      // one line per entry: escape backslashes and newlines
      w.write(program.replace("\\", "\\\\").replace("\n", "\\n"))
      w.write("\n")
      w.flush()
    } finally w.close()
  }
  private def walReplay(dir: String): Int = {
    val f = walFile(dir)
    if (!f.isFile) return 0
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val entries = try src.getLines().toList finally src.close()
    var n = 0
    // left-to-right unescape (a naive replace chain corrupts "\\n")
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case _ => sb.append(s.charAt(i)); i += 1
          }
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }
    entries.foreach { line =>
      val program = unescape(line)
      try { engine.run(program); n += 1 }
      catch { case e: Throwable =>
        System.err.println(s"[wal] replay failed for entry: ${e.getMessage}")
      }
    }
    n
  }

  /** Execute one input: a meta command (`.`-prefixed) or an IQL program. */
  def execute(input: String): Seq[Result] = {
    val trimmed = input.trim
    if (trimmed.startsWith(".")) Seq(meta(trimmed))
    else {
      val v0 = catalog.version
      val out = engine.run(trimmed).map(Table)
      if (walDir.isDefined && catalog.version != v0) walAppend(trimmed)
      out
    }
  }

  private def meta(cmd: String): Result = {
    if (cmd.startsWith(".debug ")) {
      // plan-without-execution trace (reference `.debug`,
      // `src/pipeline_trace.rs`): the Catalyst formatted plan
      val prog = Parser.parseProgram(cmd.stripPrefix(".debug "))
      val q = prog.statements.collectFirst { case q: Ast.Query => q }.getOrElse(
        throw new IllegalArgumentException(".debug takes a query"))
      val df = engine.evalQuery(q)
      return Text(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).split("\n").toSeq)
    }
    if (cmd.startsWith(".why_not ")) {
      val atom = parseGroundAtom(cmd.stripPrefix(".why_not "))
      return Text(Provenance.whyNot(engine, atom))
    }
    if (cmd.startsWith(".why ")) {
      val atom = parseGroundAtom(cmd.stripPrefix(".why "))
      return Provenance.why(engine, atom) match {
        case Some(proof) => Text(proof.render())
        case None => Text(Seq(s"${Printer.atom(atom)} is not derivable — try .why_not"))
      }
    }
    val parts = cmd.split("\\s+").toSeq
    parts match {
      // KG-map operations synchronize on the (possibly shared) map — a
      // wire server hands the same map to every connection
      case Seq(".kg") | Seq(".kg", "show") => Text(Seq(currentKg))
      case Seq(".kg", "list") => kgs.synchronized { Text(kgs.keys.toSeq) }
      case Seq(".kg", "create", name) => kgs.synchronized {
        require(!kgs.contains(name), s"knowledge graph $name already exists")
        kgs(name) = new Catalog(spark); Text(Seq(s"created $name"))
      }
      case Seq(".kg", "use", name) =>
        require(kgs.synchronized { kgs.contains(name) }, s"unknown knowledge graph $name")
        // KG switch clears the session overlay (reference prints
        // "(Cleared N session rule(s), M session fact(s))")
        engines.get(currentKg).foreach(_.clearSession())
        currentKg = name; Text(Seq(s"using $name"))
      case Seq(".kg", "drop", name) =>
        require(name != "default", "cannot drop the default knowledge graph")
        kgs.synchronized { kgs.remove(name) }; engines.remove(name)
        if (currentKg == name) currentKg = "default"
        Text(Seq(s"dropped $name"))

      case Seq(".session") =>
        val (nr, nf) = engine.sessionSummary
        Text(Seq(s"session: $nr rule(s), $nf fact(s)"))
      case Seq(".session", "clear") =>
        engine.clearSession(); Text(Seq("session cleared"))
      case Seq(".session", "drop", name) =>
        engine.dropSessionRule(name); Text(Seq(s"dropped session $name"))

      case Seq(".rel") | Seq(".rel", "list") => Text(catalog.relationNames)
      case Seq(".rule") => Text(engine.currentRules.map(Printer.rule))
      case Seq(".rel", name) if !Set("list", "describe", "drop")(name) =>
        Text(describeRel(name))
      case Seq(".rel", "describe", name) =>
        Text(describeRel(name))
      case Seq(".rel", "drop", name) =>
        catalog.dropRelation(name); Text(Seq(s"dropped $name"))

      case Seq(".rule", "list") => Text(catalog.rules.map(Printer.rule))
      case Seq(".rule", "drop", headRel) =>
        catalog.dropRule(headRel); Text(Seq(s"dropped rules for $headRel"))
      case Seq(".rule", "clear", headRel) =>
        catalog.dropRule(headRel); Text(Seq(s"cleared rules for $headRel"))
      case Seq(".rule", "drop", "prefix", prefix) =>
        val heads = catalog.rules.map(_.head.rel).distinct.filter(_.startsWith(prefix))
        heads.foreach(catalog.dropRule)
        Text(Seq(s"dropped ${heads.length} rule head(s) with prefix $prefix"))
      case Seq(".rule", "remove", headRel, idx) =>
        val ok = catalog.removeRuleClause(headRel, idx.toInt)
        Text(Seq(if (ok) s"removed clause $idx of $headRel" else s"no clause $idx for $headRel"))
      case Seq(".rule", "def" | "show", headRel) =>
        Text(engine.currentRules.filter(_.head.rel == headRel).map(Printer.rule))
      case Seq(".rule", headRel) if !Set("list", "drop", "remove", "def", "show", "clear")(headRel) =>
        Text(engine.currentRules.filter(_.head.rel == headRel).map(Printer.rule))

      case Seq(".load", path) => doLoad(path, None)
      case Seq(".load", path, flag@("--replace" | "--merge")) => doLoad(path, Some(flag))
      case other if other.headOption.contains(".rule") && other.length >= 4 &&
        other(1) == "edit" =>
        // .rule edit <name> <idx> <replacement rule text>
        val (name, idx) = (other(2), other(3).toInt)
        val ruleText = cmd.split("\\s+", 5).lift(4).getOrElse(
          throw new IllegalArgumentException(".rule edit needs a rule"))
        val prog = Parser.parseProgram(ruleText)
        prog.statements.headOption match {
          case Some(Ast.RuleDef(r)) =>
            catalog.removeRuleClause(name, idx)
            catalog.addRule(r.copy(persistent = true))
            Text(Seq(s"edited clause $idx of $name"))
          case _ => throw new IllegalArgumentException(".rule edit needs a rule definition")
        }

      case Seq(".save", dir) =>
        Storage.save(catalog, dir)
        walFile(dir).delete() // snapshot now holds the state
        walDir = Some(dir)
        Text(Seq(s"saved to $dir"))
      case Seq(".open", dir) =>
        val c = Storage.load(spark, dir)
        kgs.synchronized { kgs(currentKg) = c }
        engines.remove(currentKg) // engine was bound to the replaced catalog
        val replayed = walReplay(dir) // recover un-saved mutations
        walDir = Some(dir)
        Text(Seq(s"opened $dir (${c.relationNames.length} relations, " +
          s"${c.rules.length} rules)") ++
          (if (replayed > 0) Seq(s"recovered $replayed WAL entr${if (replayed == 1) "y" else "ies"}") else Seq.empty))

      case Seq(".import", "csv", path, rel) =>
        catalog.register(rel, graft.sources.Tables.loadCsv(spark, path))
        Text(Seq(s"imported $path as $rel"))
      case Seq(".export", "csv", rel, path) =>
        val df = catalog.relation(rel).getOrElse(
          throw new IllegalArgumentException(s"unknown relation $rel"))
        graft.sources.Tables.saveCsv(df, path)
        Text(Seq(s"exported $rel to $path"))

      // ANALYZE (reference src/statistics.rs): exact rows + approximate
      // per-column distinct counts, stored for the join-order heuristic
      case Seq(".analyze", rel) =>
        val st = catalog.analyze(rel)
        Text(s"$rel: ${st.rows} rows (v${st.version})" +:
          st.cols.map { case (c, ndv) => s"  $c: ~$ndv distinct" })
      case Seq(".analyze") =>
        Text(catalog.relationNames.map { r =>
          val st = catalog.analyze(r)
          s"$r: ${st.rows} rows, ${st.cols.length} cols"
        })

      case Seq(".index", "list") =>
        Text(catalog.indexMeta.map { case (n, (r, _, c)) => s"$n: $r($c)" }.toSeq)
      // named form (reference `.index create <name> on <rel>(<col>)`,
      // `src/statement/meta.rs:47`); id column defaults to the first
      // column, override with a trailing id-column token
      case Seq(".index", "create", name, "on", relCol, rest @ _*) if relCol.contains("(") =>
        val m = "(\\w+)\\((\\w+)\\)".r.findFirstMatchIn(relCol).getOrElse(
          throw new IllegalArgumentException(s".index create: expected <rel>(<col>), got $relCol"))
        val (rel, vecCol0) = (m.group(1), m.group(2))
        val df = catalog.relation(rel).getOrElse(
          throw new IllegalArgumentException(s"unknown relation $rel"))
        // IQL-created relations have positional columns (c0, c1, ...) the
        // user never sees — resolve a non-matching vector-column name to
        // the relation's (single) array column, and a non-matching id
        // column to the first column
        val vecCol =
          if (df.columns.contains(vecCol0)) vecCol0
          else df.schema.fields.collect {
            case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => f.name
          } match {
            case Array(only) => only
            case _ => throw new IllegalArgumentException(
              s"$rel has no unambiguous vector column named $vecCol0")
          }
        // trailing tokens: an id column and/or a metric, in any order
        val metrics = Set("cosine", "euclidean", "dot")
        val metric = rest.find(metrics).getOrElse("cosine")
        val nonMetric = rest.filterNot(metrics)
        nonMetric.headOption.foreach { t =>
          require(df.columns.contains(t),
            s".index create: '$t' is neither a column of $rel nor a metric")
        }
        val idCol = nonMetric.headOption.getOrElse(df.columns.head)
        catalog.createIndex(rel, idCol, vecCol, metric, name = name)
        Text(Seq(s"index $name created on $rel($vecCol)"))
      case Seq(".index", "create", rel, idCol, vecCol) =>
        catalog.createIndex(rel, idCol, vecCol)
        Text(Seq(s"index created on $rel($vecCol)"))
      case Seq(".index", "create", rel, idCol, vecCol, metric) =>
        catalog.createIndex(rel, idCol, vecCol, metric)
        Text(Seq(s"index created on $rel($vecCol) metric=$metric"))
      case Seq(".index", "drop", rel, vecCol) =>
        catalog.indexes.remove((rel, vecCol))
        catalog.indexMeta.filterInPlace { case (_, (r, _, c)) => (r, c) != (rel, vecCol) }
        Text(Seq(s"index dropped on $rel($vecCol)"))
      case Seq(".index", "drop", name) =>
        catalog.indexMeta.remove(name).foreach { case (r, _, c) =>
          catalog.indexes.remove((r, c)) }
        Text(Seq(s"index $name dropped"))
      case Seq(".index", "stats", rel, vecCol) =>
        val idx = catalog.indexes.getOrElse((rel, vecCol),
          throw new IllegalArgumentException(s"no index on $rel($vecCol)"))
        Text(idx.stats.map { case (k, v) => s"$k: $v" }.toSeq.sorted)
      // named form (indexes are primarily addressed by name, like
      // hnsw_nearest("<name>", ...)); surfaces the tombstone ratio the
      // auto-rebuild threshold watches
      case Seq(".index", "stats", name) =>
        val (idx, _, _, _) = catalog.indexByName(name).getOrElse(
          throw new IllegalArgumentException(s"no index named $name"))
        Text(idx.stats.map { case (k, v) => s"$k: $v" }.toSeq.sorted)
      case Seq(".index", "rebuild", rel, idCol, vecCol) =>
        catalog.createIndex(rel, idCol, vecCol)
        Text(Seq(s"index rebuilt on $rel($vecCol)"))
      case Seq(".index", "rebuild", name) =>
        val (old, rel, idCol, vecCol) = catalog.indexByName(name).getOrElse(
          throw new IllegalArgumentException(s"no index named $name"))
        catalog.createIndex(rel, idCol, vecCol, old.metric, old.m,
          old.efConstruction, name = name)
        Text(Seq(s"index $name rebuilt on $rel($vecCol)"))

      case Seq(".clear", "prefix", prefix) =>
        val rels = catalog.relationNames.filter(_.startsWith(prefix))
        rels.foreach(catalog.dropRelation)
        Text(Seq(s"cleared ${rels.length} relation(s) with prefix $prefix"))
      case Seq(".compact") =>
        catalog.relationNames.foreach(catalog.compact)
        Text(Seq(s"compacted ${catalog.relationNames.length} relation(s)"))

      case Seq(".status") =>
        Text(Seq(s"kg: $currentKg",
          s"relations: ${catalog.relationNames.length}",
          s"rules: ${catalog.rules.length}"))
      case Seq(".help") =>
        Text(Seq(".kg [list|create|use|drop] — knowledge graphs",
          ".rel [list|describe|drop] — relations",
          ".rule [list|drop] — persistent rules",
          ".load <file> — run an IQL script",
          ".save <dir> / .open <dir> — persist / restore this KG",
          ".import csv <path> <rel> / .export csv <rel> <path>",
          ".status"))
      case _ => throw new IllegalArgumentException(s"unknown meta command: $cmd")
    }
  }

  /** `.load file [--replace|--merge]` (reference `src/statement/meta.rs:71-75`).
    * Default/merge: execute in place (inserts union). --replace: run in a
    * scratch catalog, then replace this KG's same-named relations. */
  private def doLoad(path: String, flag: Option[String]): Result = {
    val p0 = java.nio.file.Paths.get(path)
    val p = if (java.nio.file.Files.exists(p0)) p0
            else java.nio.file.Paths.get(loadBasePath).resolve(path)
    val src = new String(java.nio.file.Files.readAllBytes(p))
    flag match {
      case Some("--replace") =>
        val tmp = new Catalog(spark)
        new Engine(tmp, limits).run(src)
        tmp.relationNames.foreach(n => catalog.register(n, tmp.relation(n).get))
        tmp.rules.foreach(catalog.addRule)
        Text(Seq(s"loaded $p (replaced ${tmp.relationNames.length} relations)"))
      case _ =>
        val n = engine.run(src).length
        Text(Seq(s"loaded $p ($n query results discarded)"))
    }
  }

  private def parseGroundAtom(src: String): Ast.Atom = Repl.parseGroundAtom(src)

  /** Schema display: dynamically-typed (AnyValue) columns print as `any`
    * (the reference shows `any` for dynamic columns, never an encoding
    * detail); static columns print their Spark type. */
  private def describeRel(name: String): Seq[String] = {
    val df = catalog.relation(name).getOrElse(
      throw new IllegalArgumentException(s"unknown relation $name"))
    df.schema.fields.map { f =>
      val t = if (AnyValue.isAny(f.dataType)) "any" else f.dataType.simpleString
      s"${f.name}: $t"
    }.toSeq
  }
}

/** Parquet + IQL-source persistence of one knowledge graph (reference:
  * Parquet batch persistence `src/storage/parquet.rs` + rule catalog;
  * WAL durability is subsumed by Spark's atomic parquet job commit). */
object Storage {
  def save(catalog: Catalog, dir: String): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    catalog.relationNames.foreach { name =>
      // snapshot BEFORE the overwrite: a recovered relation's live plan
      // may lazily read the very parquet files this write replaces (a
      // re-save into the opened directory after WAL replay) — a
      // pipelined plan would stream from files the overwrite already
      // deleted. The checkpoint executes the read fully first; it is
      // private to this call, so it releases eagerly.
      val snap = catalog.relation(name).get.localCheckpoint(true)
      try snap.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      finally graft.plans.Fixpoint.checkpointRddOf(snap)
        .foreach(r => try r.unpersist(false) catch { case _: Throwable => () })
    }
    val decls = catalog.relationNames.flatMap(n =>
      catalog.declaredSchema(n).map(fs => Printer.schemaDecl(n, fs)))
    val rules = catalog.rules.map(Printer.rule)
    java.nio.file.Files.write(d.resolve("rules.iql"),
      (decls ++ rules).mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(d.resolve("relations.txt"),
      catalog.relationNames.mkString("\n").getBytes("UTF-8"))
    // vector indexes: graph serialized beside the data (reference
    // persists its HNSW next to the relation files, `src/hnsw_index.rs`)
    val idxLines = catalog.indexMeta.toSeq.flatMap { case (name, (rel, idCol, vecCol)) =>
      catalog.indexes.get((rel, vecCol)).map { idx =>
        idx.save(s"$dir/$name.hnsw")
        s"$name\t$rel\t$idCol\t$vecCol\t${idx.metric}\t${idx.m}\t${idx.efConstruction}"
      }
    }
    java.nio.file.Files.write(d.resolve("indexes.txt"),
      idxLines.mkString("\n").getBytes("UTF-8"))
  }

  def load(spark: SparkSession, dir: String): Catalog = {
    val c = new Catalog(spark)
    val rels = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/relations.txt"))).split("\n").filter(_.nonEmpty)
    rels.foreach(name => c.register(name, spark.read.parquet(s"$dir/$name.parquet")))
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/rules.iql")))
    if (src.trim.nonEmpty) {
      val prog = Parser.parseProgram(src)
      prog.statements.foreach {
        case Ast.SchemaDecl(rel, fields) => c.declareSchema(rel, fields)
        case Ast.RuleDef(r) => c.addRule(r.copy(persistent = true))
        case other => throw new IllegalStateException(s"unexpected statement in rules.iql: $other")
      }
    }
    val idxFile = java.nio.file.Paths.get(s"$dir/indexes.txt")
    if (java.nio.file.Files.exists(idxFile)) {
      new String(java.nio.file.Files.readAllBytes(idxFile)).split("\n")
        .filter(_.nonEmpty).foreach { line =>
          // name, relation, id and vector columns, then metric, m and
          // efConstruction (manifests from older builds stop at four)
          val f = line.split("\t")
          val Array(name, rel, idCol, vecCol) = f.take(4)
          try {
            c.indexes((rel, vecCol)) = graft.index.Hnsw.load(s"$dir/$name.hnsw")
            c.indexMeta(name) = (rel, idCol, vecCol)
          } catch {
            // a graph this build cannot read (saved in an older layout,
            // or damaged): rebuild it from the relation loaded above
            case _: java.io.ObjectStreamException =>
              if (f.length >= 7)
                c.createIndex(rel, idCol, vecCol, f(4), f(5).toInt, f(6).toInt, name)
              else c.createIndex(rel, idCol, vecCol, name = name)
          }
        }
    }
    c
  }
}
