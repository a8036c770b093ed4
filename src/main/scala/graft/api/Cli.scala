package graft.api

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.meta.Fixtures
import graft.model.{PipelineDef, PipelineTrigger}
import graft.orchestration.{Catalog, Cron, EngineManager, EventLog, LocalSparkEngine, ProcessEngine}

/** `kaly`-style CLI (the reference ships an empty stub with intended
  * usage `kaly create pipeline pipeline.yaml`, `kaly/Readme.md:1-2`).
  * Verbs map 1:1 onto [[GraftApi]]; run via
  * `sbt "runMain graft.api.Cli <verb> [args]"`.
  *
  * Verbs: list [prefix] | describe <uuid> | downstream <uuid> |
  * history <uuid> | running | cron-due <ts> |
  * create pipeline <def.yaml|def.json> — the reference CLI's one
  * documented verb: a pipeline definition file (YAML per the reference
  * doc, via the [[yamlToJson]] subset parser; JSON accepted too)
  * upserted into the catalog with its trigger edges through the D5
  * validated path.
  */
object Cli {

  /** Pipeline-definition file schema: the [[PipelineDef]] columns plus
    * an inline `triggers` array (the reference's embedded
    * `TriggersOnModel`, `pipeline_models.py:11-19`). */
  private val trigSchema = StructType(Seq(
    StructField("trigger_uuid", StringType), StructField("op", StringType)))
  private val defFileSchema: StructType =
    org.apache.spark.sql.Encoders.product[PipelineDef].schema
      .add(StructField("triggers", ArrayType(trigSchema)))

  /** YAML-subset → JSON for pipeline definition files (`kaly create
    * pipeline pipeline.yaml`, `kaly/Readme.md:1-2` — the reference CLI's
    * one documented invocation takes YAML; no YAML library resolves on
    * the offline classpath, so this hand-rolls exactly the subset a
    * flat pipeline definition uses and FAILS LOUDLY past it):
    *
    *  - top-level `key: value` scalars (bare, 'single' or "double"
    *    quoted; `true`/`false`/`null`/numbers typed, the rest strings)
    *  - ONE level of block list under a key (`triggers:` + `- k: v`
    *    items with indented continuation lines)
    *  - blank lines and full-line / trailing ` #` comments
    *
    * Anchors, multi-doc, block scalars (|/>), nested maps and flow
    * collections are out of subset → IllegalArgumentException. */
  private[graft] def yamlToJson(text: String, where: String = "<yaml>"): String = {
    def fail(ln: Int, msg: String): Nothing =
      throw new IllegalArgumentException(s"$where:${ln + 1}: $msg (YAML subset: flat scalars + one block list)")
    def stripComment(s: String): String = {
      // a ' #' outside quotes ends the value; '#' inside quotes is data
      var inS = false; var inD = false
      val b = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\'' && !inD) inS = !inS
        else if (c == '"' && !inS) inD = !inD
        if (c == '#' && !inS && !inD && (i == 0 || s.charAt(i - 1).isWhitespace)) i = s.length
        else { b.append(c); i += 1 }
      }
      b.result()
    }
    // one escape routine for EVERYTHING rendered into the JSON — keys
    // included (r13 ADVICE #4: keys interpolated raw, so a quote or
    // backslash in a key produced malformed JSON that Spark's
    // PERMISSIVE parse nulled SILENTLY, violating this parser's
    // fail-loud contract)
    def jstr(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    // double-quoted scalars: unescape the YAML subset we accept and
    // LOUDLY reject the rest (r13 ADVICE #4: the old single
    // `replace("\\\"", "\"")` mangled \\ and \n — "a\\nb" round-tripped
    // as backslash-n text re-escaped, silently wrong either way)
    def unescapeDq(s: String, ln: Int): String = {
      val b = new StringBuilder; var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= s.length) fail(ln, "dangling backslash in double-quoted scalar")
          s.charAt(i + 1) match {
            case '"'  => b.append('"')
            case '\\' => b.append('\\')
            case 'n'  => b.append('\n')
            case 't'  => b.append('\t')
            case 'r'  => b.append('\r')
            case o    => fail(ln,
              s"unsupported escape '\\$o' in double-quoted scalar (subset: \\\" \\\\ \\n \\t \\r)")
          }
          i += 2
        } else { b.append(c); i += 1 }
      }
      b.result()
    }
    def jsonScalar(raw: String, ln: Int): String = {
      val v = raw.trim
      if (v.startsWith("\"") && v.endsWith("\"") && v.length >= 2)
        jstr(unescapeDq(v.substring(1, v.length - 1), ln))
      else if (v.startsWith("'") && v.endsWith("'") && v.length >= 2)
        jstr(v.substring(1, v.length - 1).replace("''", "'"))
      else if (v == "|" || v == ">" || v.startsWith("|") || v.startsWith(">"))
        fail(ln, "block scalars are out of subset; quote the string instead")
      else if (v.startsWith("&") || v.startsWith("*") || v.startsWith("{") || v.startsWith("["))
        fail(ln, s"'$v' (anchors/flow collections) is out of subset")
      else if (v == "null" || v == "~" || v.isEmpty) "null"
      else if (v == "true" || v == "false") v
      else if (v.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?")) v
      else jstr(v)
    }
    val lines = text.linesIterator.toIndexedSeq.map(stripComment)
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      if (line.trim.isEmpty) i += 1
      else if (line.head.isWhitespace) fail(i, s"unexpected indented line '${line.trim}'")
      else line.indexOf(':') match {
        case -1 => fail(i, s"expected 'key: value', got '${line.trim}'")
        case c =>
          val key = line.substring(0, c).trim
          val rest = line.substring(c + 1).trim
          if (rest.nonEmpty) { fields(key) = jsonScalar(rest, i); i += 1 }
          else {
            // block list: consume `- ...` items (each with optional
            // indented continuation lines) until the next column-0 key
            i += 1
            val items = scala.collection.mutable.ArrayBuffer.empty[String]
            while (i < lines.length &&
                   (lines(i).trim.isEmpty || lines(i).head.isWhitespace)) {
              val t = lines(i).trim
              if (t.isEmpty) i += 1
              else if (t.startsWith("- ")) {
                val entry = scala.collection.mutable.LinkedHashMap.empty[String, String]
                def addPair(s: String, ln: Int): Unit = s.indexOf(':') match {
                  case -1 => fail(ln, s"expected 'key: value' in list item, got '$s'")
                  case cc => entry(s.substring(0, cc).trim) = jsonScalar(s.substring(cc + 1), ln)
                }
                val itemIndent = lines(i).indexOf('-')
                addPair(t.substring(2).trim, i)
                i += 1
                while (i < lines.length && lines(i).trim.nonEmpty &&
                       lines(i).head.isWhitespace && !lines(i).trim.startsWith("- ") &&
                       lines(i).takeWhile(_.isWhitespace).length > itemIndent) {
                  addPair(lines(i).trim, i); i += 1
                }
                items += entry.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
              } else fail(i, s"expected '- item' under '$key:', got '$t'")
            }
            if (items.isEmpty) fields(key) = "null"
            else fields(key) = items.mkString("[", ",", "]")
          }
      }
    }
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
  }

  /** Parse a definition file into (def, edges). `.yaml`/`.yml` files go
    * through [[yamlToJson]] (the reference CLI's documented format);
    * anything else is read as JSON. Nulls get the model's defaults
    * (`retry_max=0`, `concurrency=false` per
    * `pipeline_models.py:25-27`). */
  def parsePipelineFile(spark: SparkSession, path: String): (PipelineDef, Seq[PipelineTrigger]) = {
    val lower = path.toLowerCase
    val rows =
      if (lower.endsWith(".yaml") || lower.endsWith(".yml")) {
        import spark.implicits._
        val text = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
        spark.read.schema(defFileSchema).option("multiLine", "true")
          .json(spark.createDataset(Seq(yamlToJson(text, path))))
      } else spark.read.schema(defFileSchema).option("multiLine", "true").json(path)
    val r = rows.head()
    def optS(f: String): Option[String] = Option(r.getAs[String](f))
    val uuid = Option(r.getAs[String]("pipeline_uuid")).getOrElse(
      throw new IllegalArgumentException(s"$path: pipeline_uuid is required"))
    val d = PipelineDef(
      pipeline_uuid = uuid,
      description = optS("description").getOrElse(""),
      retry_max = Option(r.getAs[Any]("retry_max")).map(_.toString.toDouble.toInt).getOrElse(0),
      concurrency = Option(r.getAs[Any]("concurrency")).exists(_ == true),
      engine = optS("engine").getOrElse("spark-local"),
      engine_args = optS("engine_args").getOrElse("{}"),
      schedule = optS("schedule"),
      triggers_op = optS("triggers_op"),
      scheduler_tracking_id = optS("scheduler_tracking_id"),
      tags_team = optS("tags_team"),
      tags_env = optS("tags_env"),
      pipeline_body = optS("pipeline_body"))
    val triggers = Option(r.getAs[scala.collection.Seq[Row]]("triggers"))
      .getOrElse(Seq.empty).toSeq.map { t =>
      PipelineTrigger(uuid, t.getAs[String]("trigger_uuid"),
        Option(t.getAs[String]("op")).getOrElse(d.triggers_op.getOrElse("all")))
    }
    (d, triggers)
  }

  /** Verb dispatch, separated from `main` so ApiSpec can drive the CLI
    * round-trip in-process. The read verbs print rows through
    * [[JsonCodec]], the bytes the HTTP routes answer. Returns a process
    * exit code. */
  def run(api: GraftApi, spark: SparkSession, args: List[String]): Int = args match {
    case "list" :: rest =>
      printRows(spark, api.catalog.list(prefix = rest.headOption), _ != "pipeline_body")
    case "describe" :: uuid :: Nil =>
      printRows(spark, api.catalog.describe(uuid))
    case "downstream" :: uuid :: Nil =>
      printRows(spark, api.catalog.downstream(uuid), _ != "pipeline_body")
    case "history" :: uuid :: Nil =>
      // fixtures-backed like the demo catalog in main(), but the data
      // dir is configurable (r12 review: a hardcoded /root/testdata
      // path crashed the verb anywhere else) and the query goes
      // through the D10 history semantics instead of a raw sort
      val dir = sys.env.getOrElse("GRAFT_EVENTS_SF_DIR", "/root/testdata/sf0.001")
      val events = Fixtures.lifecycleEventsDF(spark, dir)
        .as[graft.model.LifecycleEvent](
          org.apache.spark.sql.Encoders.product[graft.model.LifecycleEvent])
      // 'now' = the fixture's own latest stamp, so the D10 recency
      // window shows the tail of the fixture rather than an empty set
      // (fixture timestamps are historical relative to wall-clock)
      val now = Option(events
        .agg(org.apache.spark.sql.functions.max("received_time"))
        .collect()(0).getTimestamp(0))
        .getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
      printRows(spark, EventLog.history(events, now, api.cfg.historySinceSeconds, Some(uuid))
        .as(events.encoder).collect().toSeq)
    case "running" :: Nil =>
      printRows(spark, api.engines.filteredRows(spark, Seq("running", "waiting", "pending")))
    case "cron-due" :: ts :: Nil =>
      printRows(spark, Cron.fire(api.catalog.defs, Fixtures.ts(ts)))
    case "create" :: "pipeline" :: path :: Nil =>
      val (d, triggers) = parsePipelineFile(spark, path)
      api.upsertPipeline(d, triggers)
      println(s"created pipeline ${d.pipeline_uuid} with ${triggers.size} trigger(s)"); 0
    case "delete" :: uuid :: rest if rest.isEmpty || rest == List("--force") =>
      // D6 orphan guard stays on by default; --force = safe_delete=false
      api.deletePipeline(uuid, safeDelete = rest.isEmpty)
      println(s"deleted pipeline $uuid"); 0
    case "flush" :: prefix :: Nil =>
      // D7: bulk delete of the prefix's list result
      api.flushPipelines(prefix)
      println(s"flushed pipelines with prefix '$prefix'"); 0
    case "run" :: uuid :: Nil =>
      // facade run_by_pipeline_uuid: synthesize an origination event and
      // dispatch it against every engine's live runs (the concurrency
      // gate must see each one, not a page). The CLI holds no incubation
      // state and submits nothing: it prints what the step dispatched.
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      val subs = api.dispatchRows(Seq(api.manualOrigination(uuid, now)),
        api.engines.allRows(spark), Nil, now).submissions
      subs.foreach(s => println(s"dispatched ${s.pipeline_uuid} exec=${s.exec_uuid}"))
      if (subs.isEmpty) { System.err.println(s"no submission for $uuid (unknown or deferred)"); 1 }
      else 0
    case "abort" :: execUuid :: Nil =>
      api.abort(execUuid)
      println(s"abort requested for $execUuid"); 0
    case other =>
      System.err.println(s"unknown verb: ${other.mkString(" ")}")
      System.err.println(
        "usage: list [prefix] | describe <uuid> | downstream <uuid> | history <uuid> | " +
        "running | cron-due '<yyyy-MM-dd HH:mm:ss>' | create pipeline <def.yaml|def.json> | " +
        "delete <uuid> [--force] | flush <prefix> | run <uuid> | abort <exec_uuid>")
      2
  }

  private def printRows(spark: SparkSession, rows: Seq[Product],
                        keep: String => Boolean = _ => true): Int = {
    println(JsonCodec.forSession(spark).rows(rows, keep)); 0
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.service()
    spark.sparkContext.setLogLevel("ERROR")
    // demo catalog = the deterministic fixtures; the service imports GRAFT_META_DIR
    val api = new GraftApi(spark, Catalog(Fixtures.defs, Fixtures.edges),
      new EngineManager(Seq(new LocalSparkEngine(spark), new ProcessEngine)))
    val code = run(api, spark, args.toList)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
