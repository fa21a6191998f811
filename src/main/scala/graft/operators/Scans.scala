package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Scan / source / sink operators (SURVEY.md §2.1, q01–q03).
  *
  * q01 exists to prove the scan path is *efficient*, not just correct: the
  * filter and the 4-column projection must reach the parquet reader
  * (PushedFilters / ReadSchema in `.explain`), so at 100 TB the scan reads
  * only the touched row groups and columns. q02/q03 prove the CSV and JSON
  * source/sink surface round-trips losslessly (the oracle reads the
  * ORIGINAL parquet, so any loss of type or value fails the hash).
  */
object Scans {

  /** q01: parquet scan + projection + predicate, pushdown-friendly. */
  private def q01(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(Timestamp.valueOf("1997-01-01 00:00:00")))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Distinct tmp dir per (table, sfDir, JVM): the sfDir hash keeps
    * concurrent runs at different scale factors apart, and the PID keeps
    * concurrent JVMs at the SAME scale factor apart (r15 review: the
    * driver runs Verify and Bench as separate JVMs — two
    * SaveMode.Overwrite writers racing on one dir can delete each
    * other's committed part files mid-read, and q114's _SUCCESS-guarded
    * layout could go permanently stale across testdata regenerations).
    * Within one JVM the path is stable, so q114's bootstrap still
    * amortizes across bench reps — its actual purpose. Dirs register
    * for recursive deletion at JVM exit (the r12 ANN-index-dir
    * precedent), so reruns never read a previous process's leftovers. */
  private val tmpDirs = scala.collection.mutable.Set.empty[String]
  private lazy val tmpHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.foreach { d => deleteRec(new java.io.File(d)) }))
  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }
  /** Sweep `graft_*_p<pid>` tmp dirs left by DEAD processes (VERDICT r15
    * item 7): the exit hook above never runs on SIGKILL — the driver
    * kills stalled runs — so per-PID dirs accumulate in java.io.tmpdir
    * forever. Runs once per JVM, before the first tmp dir is handed out.
    * A dir is stale iff its embedded pid is not this process AND no live
    * process holds that pid (ProcessHandle.of — liveness, not ownership:
    * pid reuse can only make us KEEP a stale dir one sweep longer, never
    * delete a live run's dir prematurely... unless the pid was recycled
    * to an unrelated process, an accepted razor-thin race on a box that
    * cycles 4M pids between graft runs). Returns the swept count for the
    * unit test. */
  private[graft] def sweepStaleTmpDirs(): Int = {
    val self = ProcessHandle.current().pid()
    val pat = java.util.regex.Pattern.compile("^graft_.*_p(\\d+)$")
    val root = new java.io.File(sys.props("java.io.tmpdir"))
    Option(root.listFiles()).getOrElse(Array.empty).count { f =>
      val m = pat.matcher(f.getName)
      val stale = f.isDirectory && m.matches() && {
        val pid = m.group(1).toLong
        pid != self && !ProcessHandle.of(pid).filter(_.isAlive).isPresent
      }
      if (stale) deleteRec(f)
      stale
    }
  }
  private lazy val staleSweepDone: Unit = { sweepStaleTmpDirs(): Unit }
  private def tmp(kind: String, sfDir: String): String = {
    tmpHookInstalled
    staleSweepDone
    val p = s"${sys.props("java.io.tmpdir")}/graft_${kind}_" +
      s"${math.abs(sfDir.hashCode)}_p${ProcessHandle.current().pid()}"
    synchronized { tmpDirs += p }
    p
  }

  /** Repo-relative fixture root (r15 review: '/root/repo/target' was
    * hardcoded in five builders AND their oracle SQL — any checkout at
    * another path broke). Absolute so the oracle SQL stays stable for
    * the whole run; computed from the working directory, which is the
    * repo root under every launcher (sbt runMain, driver, tests). */
  private[operators] val fixtureRoot: String =
    new java.io.File("target").getAbsolutePath

  /** Content-addressed fixture dir (VERDICT r15 item 6): the dir tag is
    * a SHA-256 prefix over the generated (name, bytes) pairs, so ANY
    * edit to a fixture builder changes the tag → the dir name → forces
    * a clean rebuild, with no human "bump the gen tag" memory in the
    * loop (the manual g-tag rule was content-blind at one remove and
    * broke exactly once: c3a2079 renamed the dirs and left a test
    * reading the old path). Generation is cheap — all fixtures together
    * are < 100 KB, built in-memory once per JVM via the lazy-val
    * builders below — and the existence-only writeFixture guard is now
    * content-safe because the name IS the content hash. Stale dirs from
    * older generator versions are dead weight, never inputs. */
  private def fixtureDir(base: String, files: Seq[(String, Array[Byte])]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.sortBy(_._1).foreach { case (n, b) =>
      md.update(n.getBytes("US-ASCII")); md.update(0.toByte); md.update(b)
    }
    val tag = md.digest().take(6).map(b => f"$b%02x").mkString
    val dir = new java.io.File(s"$fixtureRoot/${base}_$tag")
    dir.mkdirs()
    files.foreach { case (n, b) => writeFixture(new java.io.File(dir, n), b) }
    dir.getAbsolutePath
  }

  /** Shared little-endian byte helpers for the fixture builders (r15
    * review: five copy-pasted definitions). */
  private def le(i: Int): Array[Byte] =
    Array[Byte](i.toByte, (i >> 8).toByte, (i >> 16).toByte, (i >> 24).toByte)
  private def le16(i: Int): Array[Byte] =
    Array[Byte](i.toByte, (i >> 8).toByte)

  /** q195: malformed-row ingestion policy — the data-quality gate every
    * real CSV feed needs: the file mixes valid `nation` rows with
    * planted corrupt lines (a non-numeric key, and an over-long row),
    * read back under PERMISSIVE mode with a corrupt-record column.
    * Spark's contract (mirrored literally by the oracle): fields that
    * parse keep their values, fields that fail go NULL, and the raw
    * line lands in the corrupt column — the quarantine-table shape
    * (good rows flow on, `bad` rows route to a reject sink with their
    * original text intact for replay).
    *
    * Scale: the corrupt handling is per-row inside the scan (no extra
    * pass, no shuffle); at 100 TB the same read splits across files
    * and the reject fraction is a cheap aggregate over `bad`. The
    * fixture is authored by two small Spark writes (good CSV + bad
    * text lines), never a driver-side collect. */
  private def q195(spark: SparkSession, sfDir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val nation = Tables(spark, sfDir, "nation")
    val goodPath = tmp("csvmal_good", sfDir)
    val badPath = tmp("csvmal_bad", sfDir)
    nation.coalesce(1).write.mode(SaveMode.Overwrite).csv(goodPath)
    Seq("abc,CORRUPTIA,7", "5,OVERLONGIA,9,extra,fields").toDF("line")
      .coalesce(1).write.mode(SaveMode.Overwrite).text(badPath)
    val schema = nation.schema.add("_bad", org.apache.spark.sql.types.StringType)
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
      .csv(goodPath, badPath)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("_bad").isNotNull.as("bad"), col("_bad").as("raw"))
      .orderBy(col("bad"), col("n_nationkey").asc_nulls_last, col("raw").asc_nulls_last)
  }

  /** q02: CSV sink + source round-trip of `region` (explicit schema on
    * read-back — CSV is typeless, inference would widen int32→int). */
  private def q02(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables(spark, sfDir, "region")
    val path = tmp("csv_region", sfDir)
    region.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    spark.read.schema(region.schema).option("header", "true").csv(path)
      .orderBy("r_regionkey")
  }

  /** q03: JSON-lines sink + source round-trip of `nation` (explicit schema
    * — JSON inference would read int32 as bigint and break type parity). */
  private def q03(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Tables(spark, sfDir, "nation")
    val path = tmp("json_nation", sfDir)
    nation.coalesce(1).write.mode(SaveMode.Overwrite).json(path)
    spark.read.schema(nation.schema).json(path)
      .orderBy("n_nationkey")
  }

  /** q69: ORC sink + source round-trip of `supplier` (the third columnar
    * format Spark ships besides parquet; oracle reads the original
    * parquet — the round-trip must be lossless). */
  private def q69(spark: SparkSession, sfDir: String): DataFrame = {
    val supplier = Tables(spark, sfDir, "supplier")
    val path = tmp("orc_supplier", sfDir)
    supplier.coalesce(1).write.mode(SaveMode.Overwrite).orc(path)
    spark.read.schema(supplier.schema).orc(path)
      .orderBy("s_suppkey")
  }

  /** q184: Avro sink + source round-trip of `nation` — the row-oriented
    * interchange format that carries streaming/CDC feeds into a lake
    * (Kafka payloads land as Avro far more often than as parquet). This
    * build of Spark 4.1.2 bundles the Avro implementation inside
    * spark-sql itself but ships no DataSourceRegister service entry for
    * it (probed round 10: the classes are present, no service entry in
    * any jar under /opt/spark/jars) — so the ENGINE jar registers the
    * short name: src/main/resources/META-INF/services/
    * org.apache.spark.sql.sources.DataSourceRegister lists
    * AvroFileFormat, and `format("avro")` resolves through the standard
    * ServiceLoader lookup (VERDICT r11 item 7). Explicit schema on
    * read-back: Avro carries its own writer schema, but pinning the
    * reader schema keeps int32 columns from surfacing under Avro's wider
    * default mappings.
    *
    * Duplicate-provider tolerance (ADVICE r13): a future Spark build
    * that ships its OWN avro DataSourceRegister entry would make the
    * short name ambiguous ("Multiple sources found") with the engine's
    * service entry still on the classpath — so the format name is
    * resolved once: short name if it probes cleanly, otherwise the
    * implementation class, which is unambiguous by construction. */
  private lazy val avroFormat: String =
    try {
      org.apache.spark.sql.execution.datasources.DataSource
        .lookupDataSource("avro", org.apache.spark.sql.internal.SQLConf.get)
      "avro"
    } catch { case _: Throwable => "org.apache.spark.sql.avro.AvroFileFormat" }

  private def q184(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Tables(spark, sfDir, "nation")
    val path = tmp("avro_nation", sfDir)
    nation.coalesce(1).write.mode(SaveMode.Overwrite).format(avroFormat).save(path)
    spark.read.schema(nation.schema).format(avroFormat).load(path)
      .orderBy("n_nationkey")
  }

  /** q253: XML sink + source round-trip of `nation` — the document
    * interchange format enterprise feeds (SOAP exports, legacy CMS dumps,
    * sitemap/feed crawls) still arrive in; Spark 4 ships the XML
    * datasource built into spark-sql (registered short name `xml`,
    * probed round 10 session 4). `rowTag` names the per-row element;
    * explicit schema on read-back because XML is stringly-typed on the
    * wire — inference would surface every column as STRING/LONG guesses.
    *
    * Scale note: like CSV/JSON, XML is a row-format ingest boundary —
    * no pushdown, no pruning, schema applied per record. The pattern at
    * 100 TB is land → parse ONCE → parquet (q223's compaction), never
    * repeated analytic scans over the XML itself. */
  private def q253(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Tables(spark, sfDir, "nation")
    val path = tmp("xml_nation", sfDir)
    nation.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("rowTag", "nation").format("xml").save(path)
    spark.read.schema(nation.schema).option("rowTag", "nation")
      .format("xml").load(path)
      .orderBy("n_nationkey")
  }

  /** q183: schema-evolution scan — a long-lived dataset whose writer
    * added a column mid-stream (the 100 TB reality: parquet directories
    * accumulate files under EVOLVING schemas for years). Two generations
    * are written under one root — src=a with (key, name), src=b with the
    * later (key, name, regionkey) — and read back through
    * `mergeSchema=true`: Spark reconciles the footers into the union
    * schema, old-generation rows surface NULL for the added column, and
    * the partition directory (`src`) identifies the generation. The
    * oracle reproduces the same union from the base table.
    *
    * Scale note: mergeSchema reads every file footer at planning time —
    * on a huge directory prefer a user-supplied schema or the table
    * format's metadata (the per-file reconciliation logic is the same);
    * pruning/pushdown are unaffected either way. */
  private def q183(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Tables(spark, sfDir, "nation")
    val path = tmp("evo_nation", sfDir)
    nation.select("n_nationkey", "n_name")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/src=a")
    nation.select("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/src=b")
    spark.read.option("mergeSchema", "true").parquet(path)
      .select(col("src"), col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy("src", "n_nationkey")
  }

  /** q70: partitioned parquet layout + partition pruning — write orders
    * hive-partitioned by year, read back with a partition filter. The
    * year filter prunes at the DIRECTORY level (PartitionFilters, no
    * row-group IO for other years) — the layout strategy that carries a
    * 100 TB fact table. */
  private def q70(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    val path = tmp("part_orders", sfDir)
    orders
      .withColumn("o_year", year(col("o_orderdate")))
      // project to the columns the downstream read needs — the layout
      // (partitionBy + directory pruning) is what this operator proves;
      // writing unread columns only inflates the sink IO
      .select("o_year", "o_orderstatus")
      .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(path)
    spark.read.parquet(path)
      .filter(col("o_year").isin(1996, 1997))
      .groupBy("o_year", "o_orderstatus")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("o_year", col("o_year").cast("bigint"))
      .orderBy("o_year", "o_orderstatus")
  }

  /** Atomic fixture write: temp file + ATOMIC_MOVE, so a concurrent
    * application (the driver runs Verify and Bench as separate JVMs over
    * the same repo-local fixture dirs) can never observe a half-written
    * file — it sees either nothing (and writes its own identical copy)
    * or the complete bytes. Idempotent: fixtures are deterministic, so
    * last-writer-wins replacement is content-neutral. */
  private def writeFixture(f: java.io.File, bytes: Array[Byte]): Unit =
    if (!f.exists()) {
      // '.'-prefixed temp name: Spark's file index skips hidden files and
      // the oracle's *.bmp/*.wav/*.bin globs never match it, so neither
      // engine can observe a mid-write or crash-orphaned temp (ADVICE
      // r13: a visible orphan was read by Spark but not by DuckDB — a
      // permanent one-sided gate failure). Belt-and-braces with the
      // pathGlobFilter on every fixture read.
      val tmp = java.nio.file.Files.createTempFile(
        f.getParentFile.toPath, "." + f.getName, ".tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.move(tmp, f.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case _: java.nio.file.FileAlreadyExistsException => ()
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }

  /** Deterministic binary fixtures for q95 — minimal VALID PNG / BMP /
    * WAV headers built byte-by-byte (no media libs), written once to a
    * fixed repo-local dir. Both engines read the same files: Spark via
    * the binaryFile source, DuckDB via read_blob — which is why the path
    * must be absolute and sfDir-independent (oracle SQL is static). */
  private[graft] lazy val binaryFixture: String = {
    def be(i: Int) = Array[Byte]((i >> 24).toByte, (i >> 16).toByte, (i >> 8).toByte, i.toByte)
    def png(w: Int, h: Int, pad: Int) =
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        be(13) ++ "IHDR".getBytes("US-ASCII") ++ be(w) ++ be(h) ++ Array.fill[Byte](pad)(0)
    def bmp(w: Int, h: Int) =
      "BM".getBytes("US-ASCII") ++ Array.fill[Byte](12)(0) ++ le(40) ++
        le(w) ++ le(h) ++ Array.fill[Byte](6)(0)
    def wav(rate: Int, ch: Int) =
      "RIFF".getBytes("US-ASCII") ++ le(100) ++ "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le(16) ++ le16(1) ++ le16(ch) ++
        le(rate) ++ Array.fill[Byte](4)(0)
    fixtureDir("graft_binary_fixture", Seq(
      "png1.bin" -> png(320, 200, 5), "png2.bin" -> png(1920, 1080, 9),
      "bmp1.bin" -> bmp(640, 480), "bmp2.bin" -> bmp(64, 64),
      "wav1.bin" -> wav(44100, 2)))
  }

  /** Deterministic 16×16 24-bpp UNCOMPRESSED BMP fixtures for q326's
    * perceptual-hash dedup — 12 base images (Knuth-hash pixel noise, so
    * distinct images get independent hash bits) + 12 near-duplicate
    * clones (ids +100: 29 of 256 pixels nudged by +5 — the small-edit
    * regime aHash is built for), written once to a fixed repo-local dir
    * (q95's fixture convention: oracle SQL is static, so the path is
    * absolute and sfDir-independent; both engines read the SAME bytes).
    * Layout: BITMAPFILEHEADER(14) + BITMAPINFOHEADER(40), pixel array at
    * offset 54, BGR, rows bottom-up, stride 48 = 16·3 (already 4-byte
    * aligned, so no row padding — the hex math needs no pad handling). */
  private[graft] lazy val imageFixture: String = {
    val w = 16; val h = 16
    // multiplicative image × (x, y) mix (q332's generator lesson: a
    // linear index × constant hash leaves "unrelated" fixtures
    // constant-shift-correlated, which aHash largely survives)
    def pix(i: Int, x: Int, y: Int): Int =
      ((((i * 101L + 1L) * (x * 31L + y * 17L + 23L) * 2654435761L)
        % 1000003L) % 251L).toInt
    def bmp(i: Int, perturb: Boolean): Array[Byte] = {
      val header =
        "BM".getBytes("US-ASCII") ++ le(54 + w * h * 3) ++ le(0) ++ le(54) ++
          le(40) ++ le(w) ++ le(h) ++ le16(1) ++ le16(24) ++ le(0) ++ le(w * h * 3) ++
          le(2835) ++ le(2835) ++ le(0) ++ le(0)
      val px = new Array[Byte](w * h * 3)
      for (yTop <- 0 until h; x <- 0 until w) {
        var v = pix(i, x, yTop)
        if (perturb && (x + yTop) % 9 == 0) v = math.min(255, v + 5)
        val off = (h - 1 - yTop) * w * 3 + x * 3 // bottom-up rows
        px(off) = v.toByte; px(off + 1) = v.toByte; px(off + 2) = v.toByte
      }
      header ++ px
    }
    fixtureDir("graft_image_fixture", (0 until 12).flatMap { i =>
      Seq(f"img_$i%03d.bmp" -> bmp(i, perturb = false),
        f"img_${i + 100}%03d.bmp" -> bmp(i, perturb = true))
    })
  }

  /** Deterministic WAV fixtures WITH real 16-bit PCM payloads for q328's
    * audio feature extraction (q95's header-only wav carries no samples).
    * 6 mono files at 8 kHz, 800 samples each: sawtooth-ish integer
    * waveforms `(((i·(f+3)) mod 200) − 100) · (100 + 40f)` — period and
    * amplitude vary per file so windows differ in every feature. Layout:
    * canonical 44-byte RIFF/fmt/data header, little-endian int16 samples
    * at offset 44 (both engines re-derive them from the same bytes). */
  private[graft] lazy val audioFixture: String = {
    val n = 800
    def wav(f: Int): Array[Byte] = {
      val header =
        "RIFF".getBytes("US-ASCII") ++ le(36 + n * 2) ++ "WAVE".getBytes("US-ASCII") ++
          "fmt ".getBytes("US-ASCII") ++ le(16) ++ le16(1) ++ le16(1) ++
          le(8000) ++ le(16000) ++ le16(2) ++ le16(16) ++
          "data".getBytes("US-ASCII") ++ le(n * 2)
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val v = (((i * (f + 3)) % 200) - 100) * (100 + 40 * f)
        pcm(i * 2) = v.toByte; pcm(i * 2 + 1) = (v >> 8).toByte
      }
      header ++ pcm
    }
    fixtureDir("graft_audio_fixture",
      (0 until 6).map(f => f"tone_$f%02d.wav" -> wav(f)))
  }

  /** Deterministic PCM "recordings" for q334's audio-fingerprint dedup —
    * 8 base files of Knuth-hash noise samples (multiplicative (file,
    * sample) mix, the q332 generator lesson: decorrelated files get
    * independent fingerprint bits) + 3 clones (ids +100: every sample
    * dithered by a deterministic ±5 on amplitudes up to 15000 — the
    * re-encode/re-level regime an energy fingerprint must survive).
    * Same WAV layout as [[audioFixture]]: 8 kHz mono 16-bit, 800
    * samples, data at byte offset 44. Own dir (q328's oracle globs the
    * other fixture's dir and is row-count-sensitive to new files). */
  private[graft] lazy val audioDupFixture: String = {
    val n = 800
    def sample(b: Int, i: Int): Int =
      (((b * 101L + 7L) * (i * 2654435761L + 12345L) % 1000003L) % 30001L - 15000L).toInt
    def wav(s: Int => Int): Array[Byte] = {
      val header =
        "RIFF".getBytes("US-ASCII") ++ le(36 + n * 2) ++ "WAVE".getBytes("US-ASCII") ++
          "fmt ".getBytes("US-ASCII") ++ le(16) ++ le16(1) ++ le16(1) ++
          le(8000) ++ le(16000) ++ le16(2) ++ le16(16) ++
          "data".getBytes("US-ASCII") ++ le(n * 2)
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val v = s(i); pcm(i * 2) = v.toByte; pcm(i * 2 + 1) = (v >> 8).toByte
      }
      header ++ pcm
    }
    fixtureDir("graft_audio_dup_fixture",
      (0 until 8).map(b => f"rec_$b%03d.wav" -> wav(sample(b, _))) ++
        Seq(0, 2, 5).map(b => f"rec_${b + 100}%03d.wav" ->
          wav(i => sample(b, i) + (i * 7) % 11 - 5)))
  }

  /** q95: binary-file ingestion — the multimodal pipeline's entry point:
    * Spark's `binaryFile` source reads (path, length, content) per file
    * with NO driver-side materialization, then
    * [[graft.streaming.Multimodal.decodeReal]] parses the real headers
    * (PNG/BMP dims, WAV rate/channels) in a narrow map — payload bytes
    * never shuffle, the layout that ingests 100 TB of media. The oracle
    * re-parses the SAME bytes in SQL (read_blob + hex slicing), so the
    * decode itself is hash-verified cross-engine. */
  private def q95(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = binaryFixture
    val decode = udf { bytes: Array[Byte] =>
      val (a, b) = graft.streaming.Multimodal.decodeReal(bytes, "")
      (a.toLong, b.toLong)
    }
    spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
      .select(regexp_extract(col("path"), "[^/]+$", 0).as("fname"),
        col("length").as("n_bytes"),
        decode(col("content")).as("d"))
      .select(col("fname"), col("n_bytes"),
        col("d._1").as("d1"), col("d._2").as("d2"))
      .orderBy("fname")
  }

  /** Deterministic raw-video fixtures for q329/q331 — 4 "videos" of 16
    * grayscale 16×16 frames (4-byte LE frame-count header + frames of
    * 256 luminance bytes, top-down rows) with SCENE structure: the base
    * pattern is a Knuth hash of (video, scene, x, y) where scene =
    * t div 8, plus a small per-frame motion perturbation (+t mod 8 on a
    * fifth of the pixels) — so consecutive frames inside a scene are
    * near-duplicates (small hash distance) while the scene change at
    * t = 8 replaces the pattern entirely (hash distance ≈ half the
    * bits). The fixed-size-frame container is the raw-video layout
    * (YUV/RGB elementary streams) a demuxer feeds. */
  private[graft] lazy val videoFixture: String = {
    val frames = 16
    // multiplicative (v, s) × (x, y) mix with an intermediate prime mod:
    // a purely linear index × constant hash makes two videos differ by a
    // CONSTANT shift mod 241, which aHash largely survives (measured
    // Hamming ≤ 5 between "unrelated" fixtures) — the cross term
    // decorrelates patterns across videos and scenes
    def pixBase(v: Int, s: Int, x: Int, y: Int): Int =
      ((((v * 97L + s * 29L + 1L) * (x * 7L + y * 13L + 19L) * 2654435761L)
        % 1000003L) % 241L).toInt
    def pixel(v: Int, t: Int, x: Int, y: Int): Int = {
      val motion = if ((x + y + t) % 5 == 0) t % 8 else 0
      math.min(250, pixBase(v, t / 8, x, y) + motion)
    }
    def video(v: Int): Array[Byte] = {
      // video_04 is a RE-ENCODE of video_00: same content, small uniform
      // perturbation (+2 on a seventh of the pixels) — the cross-video
      // duplicate-footage case q332 must flag
      val src = if (v == 4) 0 else v
      val body = new Array[Byte](frames * 256)
      for (t <- 0 until frames; y <- 0 until 16; x <- 0 until 16) {
        val reenc = if (v == 4 && (x + y) % 7 == 0) 2 else 0
        body(t * 256 + y * 16 + x) = math.min(250, pixel(src, t, x, y) + reenc).toByte
      }
      le(frames) ++ body
    }
    fixtureDir("graft_video_fixture",
      (0 until 5).map(v => f"video_$v%02d.bin" -> video(v)))
  }

  /** q329: video frame sampling + per-frame featurization — the
    * frame-sample leg of the multimodal quartet (decode q95/q68,
    * image features q326, audio features q328): sample every 4th frame
    * of each raw-video payload and compute the frame's perceptual hash
    * (q326's 2×2-block aHash, single-channel) and mean luminance — the
    * shot-boundary / frame-dedup features a video-curation pipeline
    * derives before any expensive model sees a frame. Frame extraction
    * is pure offset arithmetic on the fixed-size-frame container
    * (offset = header + t·256), hex-mirrored in the oracle from the
    * same bytes.
    *
    * Scale: the sampled-frame explode is ×(frames/stride) on video
    * COUNT; all pixel math is one codegen'd projection where the bytes
    * sit (binaryFile splits across tasks, payloads never shuffle). The
    * streaming-side plumbing for arbitrary containers is
    * [[graft.streaming.Multimodal.sampleFrames]]; this is the
    * oracle-verified batch shape. */
  /** Per-sampled-frame hash frame shared by q329/q331:
    * (video, t, lo, hi, total) — one codegen'd projection per video. */
  private def frameHashes(spark: SparkSession): DataFrame = {
    val dir = videoFixture
    val blockSum =
      "aggregate(sequence(0, 3), 0L, (acc, d) -> acc + " +
        "cast(conv(substr(hx, (4 + t * 256 + ((bi div 8) * 2 + d div 2) * 16 + " +
        "(bi % 8) * 2 + d % 2) * 2 + 1, 2), 16, 10) as bigint))"
    def word(startBlock1: Int): String =
      s"aggregate(zip_with(slice(sums, $startBlock1, 32), sequence(0, 31), " +
        "(s, i) -> IF(s * 64 > total, shiftleft(1L, i), 0L)), 0L, (acc, x) -> acc + x)"
    spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
      .select(regexp_extract(col("path"), "[^/]+$", 0).as("video"),
        hex(col("content")).as("hx"))
      .select(col("video"), col("hx"), explode(expr("sequence(0, 15, 4)")).as("t"))
      .withColumn("sums", expr(s"transform(sequence(0, 63), bi -> $blockSum)"))
      .withColumn("total", expr("aggregate(sums, 0L, (acc, x) -> acc + x)"))
      .select(col("video"), col("t"), expr(word(1)).as("lo"), expr(word(33)).as("hi"), col("total"))
  }

  private def q329(spark: SparkSession, sfDir: String): DataFrame =
    frameHashes(spark)
      .select(col("video"), col("t").cast("long").as("frame_idx"),
        col("lo"), col("hi"),
        Tables.r6(expr("cast(total as double) / 256")).as("mean_lum"))
      .orderBy("video", "frame_idx")

  /** q331: shot-boundary (scene-cut) detection — the canonical consumer
    * of q329's frame hashes: per consecutive SAMPLED frame pair within a
    * video, the Hamming distance between their perceptual hashes;
    * `is_cut` flags distances above 16 of 64 bits (within a scene the
    * motion perturbation flips a few bits; a scene change replaces the
    * pattern and lands near 32). This is how video curation segments
    * footage before sampling training frames per shot instead of per
    * wall-clock second.
    *
    * Scale: one lag window PARTITIONED BY video over the (videos ×
    * sampled-frames) hash frame — the window partition is the per-video
    * sample count (bounded by stride), never pixels; all pixel math
    * stays in the shared one-pass hash projection. */
  private def q331(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("video").orderBy("t")
    frameHashes(spark)
      .select(col("video"), col("t"), col("lo"), col("hi"),
        lag("t", 1).over(w).as("pt"), lag("lo", 1).over(w).as("plo"),
        lag("hi", 1).over(w).as("phi"))
      .filter(col("pt").isNotNull)
      .select(col("video"), col("t").cast("long").as("frame_idx"),
        col("pt").cast("long").as("prev_idx"),
        expr("cast(bit_count(lo ^ plo) + bit_count(hi ^ phi) as bigint)").as("hamming"))
      .withColumn("is_cut", col("hamming") > 16)
      .orderBy("video", "frame_idx")
  }

  /** q332: cross-video duplicate-footage detection — q326's pigeonhole
    * discipline applied to q329's frame hashes: band each sampled
    * frame's 64-bit hash into 8×8-bit keys, equi-join bands ACROSS
    * videos, exact Hamming ≤ 6 on candidates only. This is how a video
    * corpus finds re-encodes, shared intros and syndicated footage
    * before training — the video analog of q62/q326. The fixture's
    * re-encoded clone (video_04 = video_00 + small uniform perturbation)
    * must pair with its source at every sampled frame; unrelated videos
    * sit near Hamming 32 and never pass.
    *
    * Scale: candidates come from a (band, byte) equi-join over 8 narrow
    * rows per sampled frame — never frame×frame; at 10⁹ frames this is
    * exactly the q314 persisted-index shape with (b, k) bucketing. */
  private def q332(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = frameHashes(spark).localCheckpoint(true) // both join sides
    val banded = hashed.select(col("video"), col("t"), col("lo"), col("hi"),
        explode(sequence(lit(0), lit(7))).as("b"))
      .withColumn("k", expr(
        "IF(b < 4, shiftright(lo, cast(b * 8 as int)), shiftright(hi, cast((b - 4) * 8 as int))) & 255"))
    val l = banded.select(col("video").as("video_a"), col("t").as("frame_a"),
      col("lo").as("la"), col("hi").as("ha"), col("b"), col("k"))
    val r = banded.select(col("video").as("video_b"), col("t").as("frame_b"),
      col("lo").as("lb"), col("hi").as("hb"), col("b"), col("k"))
    l.join(r, Seq("b", "k"))
      .filter(col("video_a") < col("video_b"))
      .select("video_a", "video_b", "frame_a", "frame_b", "la", "lb", "ha", "hb").distinct()
      .select(col("video_a"), col("video_b"),
        col("frame_a").cast("long").as("frame_a"), col("frame_b").cast("long").as("frame_b"),
        expr("cast(bit_count(la ^ lb) + bit_count(ha ^ hb) as bigint)").as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy("video_a", "video_b", "frame_a", "frame_b")
  }

  /** Shared oracle CTE chain for q329/q331: per sampled video frame the
    * lo/hi hash words (hsh) and the luminance total (tot), re-derived
    * from the same fixture bytes with the same integer math. */
  private val videoHashCtes: String =
    "WITH bv AS (SELECT regexp_extract(filename, '[^/]+$') AS video, hex(content) AS hx " +
      s"FROM read_blob('$videoFixture/*.bin')), " +
      "fr AS (SELECT video, hx, t FROM bv CROSS JOIN range(0, 16, 4) rt(t)), " +
      "sums AS (SELECT video, t, bi, list_sum(list_transform(range(0, 4), d -> " +
      "CAST(('0x' || substr(hx, CAST((4 + t * 256 + ((bi // 8) * 2 + d // 2) * 16 + " +
      "(bi % 8) * 2 + d % 2) * 2 + 1 AS INT), 2)) AS BIGINT))) AS s " +
      "FROM fr CROSS JOIN range(0, 64) rb(bi)), " +
      "tot AS (SELECT video, t, SUM(s) AS total FROM sums GROUP BY video, t), " +
      "hsh AS (SELECT s.video, s.t, " +
      "CAST(SUM(CASE WHEN s.bi < 32 AND s.s * 64 > tt.total THEN CAST(1 AS BIGINT) << CAST(s.bi AS INT) ELSE 0 END) AS BIGINT) AS lo, " +
      "CAST(SUM(CASE WHEN s.bi >= 32 AND s.s * 64 > tt.total THEN CAST(1 AS BIGINT) << CAST(s.bi - 32 AS INT) ELSE 0 END) AS BIGINT) AS hi " +
      "FROM sums s JOIN tot tt ON s.video = tt.video AND s.t = tt.t GROUP BY s.video, s.t)"

  /** q330: pixel-accurate image resize (box filter) — the resize leg of
    * the multimodal quartet as a VERIFIED operator: 16×16 BMP pixels →
    * 8×8 thumbnail by 2×2 box pooling, emitted as the 64 row-major
    * integer block sums of (B+G+R) so both engines produce bit-identical
    * arrays (a mean would divide; the sum IS the box filter up to the
    * constant 1/12, applied by the consumer). This replaces the
    * byte-subsampling stand-in story: the pooling here is real pixel
    * math on real pixels ([[graft.streaming.Multimodal.resizeFeatures]]
    * keeps the aspect/dimension logic for arbitrary sizes; this is the
    * oracle-verified kernel).
    *
    * Output is one row per (image, block) — the exploded form of the
    * 64-long thumbnail. Round 13 emitted the thumbnail as an
    * array<bigint> column, which the correctness harness cannot
    * row-sort (arrays are unhashable in its pandas compare — the one
    * r13 gate failure); the exploded form carries the identical 64
    * values as plain scalars and is the shape a downstream consumer
    * joins on anyway (block index = pixel coordinate).
    *
    * Scale: one codegen'd projection per image over the blob — the
    * thumbnail never exceeds 64 longs/image, payloads never shuffle, and
    * a 100 TB thumbnail job is exactly this map plus a parquet sink. */
  private def q330(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = imageFixture
    val blockSum =
      "aggregate(sequence(0, 11), 0L, (acc, i) -> acc + " +
        "cast(conv(substr(hx, (54 + (15 - ((bi div 8) * 2 + (i div 3) div 2)) * 48 + " +
        "((bi % 8) * 2 + (i div 3) % 2) * 3 + i % 3) * 2 + 1, 2), 16, 10) as bigint))"
    spark.read.format("binaryFile").option("pathGlobFilter", "*.bmp").load(dir)
      .select(regexp_extract(col("path"), "[^/]+$", 0).as("img"),
        hex(col("content")).as("hx"))
      .select(col("img"),
        posexplode(expr(s"transform(sequence(0, 63), bi -> $blockSum)")).as(Seq("bi", "px")))
      .select(col("img"), lit(16L).as("in_w"), lit(16L).as("in_h"),
        lit(8L).as("out_w"), lit(8L).as("out_h"),
        col("bi").cast("long").as("bi"), col("px"))
      .orderBy("img", "bi")
  }

  /** q328: audio feature extraction from RAW PCM samples — the audio leg
    * of the multimodal family (q95 decodes headers, q326 hashes image
    * pixels; this reads the 16-bit LE samples themselves): per file and
    * per 100-sample window, peak amplitude, zero-crossing count (the
    * classic cheap pitch/noisiness proxy) and RMS level — the triage
    * features an audio-curation pipeline computes before any expensive
    * model touches the bytes. Sample decode is hex-slice arithmetic with
    * explicit two's-complement sign handling (raw ≥ 32768 → raw − 65536),
    * mirrored in the DuckDB oracle from the same bytes; peak/crossings
    * are integer-exact, RMS is the one float (IEEE sqrt of an identical
    * integer sum, r6-quantized — the q52 discipline).
    *
    * Scale: one codegen'd projection per file where the bytes sit
    * (binaryFile splits across tasks; payloads never shuffle); the window
    * explode is a constant ×8 on file COUNT, not on bytes; output is
    * (files × windows)-bounded. A 100 TB audio lake runs exactly this
    * shape with bigger windows — the plan has no other moving part. */
  private def q328(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = audioFixture
    val raw = "(cast(conv(substr(hx, (44 + i * 2) * 2 + 1, 2), 16, 10) as bigint) + " +
      "256 * cast(conv(substr(hx, (44 + i * 2) * 2 + 3, 2), 16, 10) as bigint))"
    spark.read.format("binaryFile").option("pathGlobFilter", "*.wav").load(dir)
      .select(regexp_extract(col("path"), "[^/]+$", 0).as("fname"),
        hex(col("content")).as("hx"))
      .withColumn("samples", expr(
        s"transform(sequence(0, 799), i -> IF($raw >= 32768, $raw - 65536, $raw))"))
      .select(col("fname"), explode(sequence(lit(0), lit(7))).as("win0"), col("samples"))
      .withColumn("s", expr("slice(samples, win0 * 100 + 1, 100)"))
      .select(col("fname"), col("win0").cast("long").as("win"),
        lit(100L).as("n_samples"),
        expr("array_max(transform(s, x -> abs(x)))").as("peak"),
        expr("aggregate(zip_with(slice(s, 1, 99), slice(s, 2, 99), " +
          "(a, b) -> IF(a * b < 0, 1L, 0L)), 0L, (acc, x) -> acc + x)").as("zero_crossings"),
        Tables.r6(expr("sqrt(cast(aggregate(s, 0L, (acc, x) -> acc + x * x) as double) / 100)")).as("rms"))
      .orderBy("fname", "win")
  }

  /** q97: heterogeneous-source consolidation — the same logical table
    * arriving as parquet + CSV + JSON unioned into one frame with a
    * source tag (the landing-zone merge every ingestion layer needs).
    * Explicit schemas on the text formats keep type parity; unionByName
    * is a zero-shuffle concatenation, the count is one small agg. */
  private def q97(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables(spark, sfDir, "region")
    val path = tmp("multi_region", sfDir)
    region.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$path/csv")
    region.coalesce(1).write.mode(SaveMode.Overwrite).json(s"$path/json")
    val csv = spark.read.schema(region.schema).option("header", "true").csv(s"$path/csv")
    val json = spark.read.schema(region.schema).json(s"$path/json")
    region.withColumn("src", lit("parquet"))
      .unionByName(csv.withColumn("src", lit("csv")))
      .unionByName(json.withColumn("src", lit("json")))
      .groupBy("r_regionkey", "r_name")
      .agg(count(lit(1)).as("n_copies"), countDistinct(col("src")).as("n_sources"))
      .orderBy("r_regionkey")
  }

  /** q110's DuckDB reference for `Graft.zValue`: Morton interleave of two
    * 5-bit dims via pure integer `//`/%/×. Equal to the facade's
    * shift-and-mask form on non-negative inputs, which q110's are
    * (nation key 0–24, balance bucket ≥ 0 since c_acctbal ≥ −999.99). */
  private def zBits: String = (0 until 5).map(i =>
    s"((x // ${1 << i}) % 2) * ${1L << (2 * i)} + " +
      s"((y // ${1 << i}) % 2) * ${1L << (2 * i + 1)}").mkString(" + ")

  /** q110: Z-order (Morton) locality layout — interleave the bits of two
    * query dimensions (nation key, 400-unit balance bucket) into one
    * z-value and range-bucket the table by it; report per-tile extents
    * of BOTH dims. A 1-D sort clusters only its leading column; the
    * z-curve keeps BOTH dims bounded inside every tile, so range
    * predicates on EITHER dim prune tiles (the Delta/Iceberg OPTIMIZE
    * ZORDER layout idea, computed as a plain narrow expression). At
    * scale the tile id is the `repartitionByRange` key at write time —
    * here the z computation is per-row narrow and the audit is one
    * groupBy(tile) with map-side combine. Integer-exact throughout:
    * no doubles anywhere near a bucket boundary except the balance
    * quantization, whose /400 grid is exact at the data's 2-decimal
    * precision. */
  private def q110(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("bigint").as("x"),
        expr("CAST(floor((c_acctbal + 1000.0) / 400.0) AS BIGINT)").as("y"))
      .withColumn("z", graft.Graft.zValue(col("x"), col("y")))
      .withColumn("tile", expr("z DIV 64"))
      .groupBy("tile")
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy("tile")
  }

  /** q114: dynamic partition pruning — a year-partitioned fact joined to
    * a broadcast dim whose filter (`d_era = 'recent'`) is NOT a literal
    * on the fact, so no static pruning applies; at runtime the
    * broadcast's year set becomes a partition filter
    * (`dynamicpruningexpression` in the scan, asserted in
    * ScaleJoinsSuite) and the fact reads ONLY the matching directories.
    * THE mechanism that makes dim-filtered queries on a 100 TB
    * partitioned fact table read 3 years instead of 7. The layout write
    * is paid once per sfDir (q88 convention); the query itself is scan +
    * broadcast join + keyed agg. */
  private def q114(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = tmp("dpp_orders", sfDir)
    val dimPath = tmp("dpp_years", sfDir)
    // the layout is reusable only when BOTH writes committed — guarding
    // on the fact's _SUCCESS alone left a crash between the two writes
    // as a permanently half-built cache (fact present, dim missing,
    // every later run failing). Checking both markers makes the
    // bootstrap self-healing: a partial state just rewrites.
    if (!new java.io.File(s"$path/_SUCCESS").exists ||
        !new java.io.File(s"$dimPath/_SUCCESS").exists) {
      Tables(spark, sfDir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_year", "o_orderkey")
        .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(path)
      // the dim must be a real source relation: a literal LocalRelation
      // gets its filter constant-folded away, and with no selective
      // predicate left the DPP rule sees nothing to prune on
      Seq(1992 -> "old", 1993 -> "old", 1994 -> "old", 1995 -> "old",
        1996 -> "recent", 1997 -> "recent", 1998 -> "recent")
        .toDF("d_year", "d_era")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dimPath)
    }
    val dim = spark.read.parquet(dimPath)
    spark.read.parquet(path)
      .join(broadcast(dim.filter(col("d_era") === "recent")),
        col("o_year") === col("d_year"))
      .groupBy("o_year")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("o_year", col("o_year").cast("bigint"))
      .orderBy("o_year")
  }

  val entries: Seq[Q] = Seq(
    Q("q01_scan_project_filter", q01 _, Some(
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "ORDER BY l_orderkey, l_linenumber")),
    Q("q195_scan_csv_malformed", q195 _, Some(
      // the oracle mirrors Spark's documented PERMISSIVE semantics on the
      // two planted lines (verified empirically): parsed fields keep
      // their values, failed fields are NULL, raw text in the corrupt col
      "SELECT n_nationkey, n_name, n_regionkey, false AS bad, CAST(NULL AS VARCHAR) AS raw " +
        "FROM nation UNION ALL " +
        "SELECT * FROM (VALUES (5, 'OVERLONGIA', 9, true, '5,OVERLONGIA,9,extra,fields'), " +
        "(NULL, 'CORRUPTIA', 7, true, 'abc,CORRUPTIA,7')) " +
        "ORDER BY bad, n_nationkey NULLS LAST, raw NULLS LAST")),
    Q("q02_scan_csv_roundtrip", q02 _, Some(
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),
    Q("q03_scan_json_lines", q03 _, Some(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    Q("q69_scan_orc_roundtrip", q69 _, Some(
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey")),
    Q("q184_scan_avro_roundtrip", q184 _, Some(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    Q("q253_scan_xml_roundtrip", q253 _, Some(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    Q("q183_scan_schema_merge", q183 _, Some(
      "SELECT * FROM (" +
        "SELECT 'a' AS src, n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey FROM nation " +
        "UNION ALL SELECT 'b', n_nationkey, n_name, n_regionkey FROM nation) " +
        "ORDER BY src, n_nationkey")),
    Q("q70_scan_partitioned_prune", q70 _, Some(
      "SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year, o_orderstatus, COUNT(*) AS cnt " +
        "FROM orders WHERE YEAR(o_orderdate) IN (1996, 1997) " +
        "GROUP BY 1, 2 ORDER BY o_year, o_orderstatus")),
    Q("q97_union_multisource", q97 _, Some(
      "SELECT r_regionkey, r_name, CAST(3 AS BIGINT) AS n_copies, " +
        "CAST(3 AS BIGINT) AS n_sources FROM region ORDER BY r_regionkey")),
    // hex offsets: byte o (0-based) lives at substr(hex, o*2+1, 2).
    // PNG: big-endian int32 at 16 (w) / 20 (h). BMP: little-endian int32
    // at 18 / 22 (byte pairs reversed). WAV: LE int32 rate at 24, LE
    // int16 channels at 22.
    Q("q95_scan_binary_decode", q95 _, Some(
      "WITH b AS (SELECT regexp_extract(filename, '[^/]+$') AS fname, " +
        "octet_length(content) AS n_bytes, hex(content) AS hx " +
        s"FROM read_blob('$binaryFixture/*.bin')) " +
        "SELECT fname, n_bytes, " +
        "CASE WHEN fname LIKE 'png%' THEN CAST(('0x' || substr(hx, 33, 8)) AS BIGINT) " +
        "WHEN fname LIKE 'bmp%' THEN CAST(('0x' || substr(hx, 43, 2) || substr(hx, 41, 2) || " +
        "substr(hx, 39, 2) || substr(hx, 37, 2)) AS BIGINT) " +
        "ELSE CAST(('0x' || substr(hx, 55, 2) || substr(hx, 53, 2) || " +
        "substr(hx, 51, 2) || substr(hx, 49, 2)) AS BIGINT) END AS d1, " +
        "CASE WHEN fname LIKE 'png%' THEN CAST(('0x' || substr(hx, 41, 8)) AS BIGINT) " +
        "WHEN fname LIKE 'bmp%' THEN CAST(('0x' || substr(hx, 51, 2) || substr(hx, 49, 2) || " +
        "substr(hx, 47, 2) || substr(hx, 45, 2)) AS BIGINT) " +
        "ELSE CAST(('0x' || substr(hx, 47, 2) || substr(hx, 45, 2)) AS BIGINT) END AS d2 " +
        "FROM b ORDER BY fname")),
    // same two's-complement sample decode re-derived from the same bytes
    Q("q328_audio_features", q328 _, Some {
      val raw = "(CAST(('0x' || substr(hx, CAST((44 + i * 2) * 2 + 1 AS INT), 2)) AS BIGINT) + " +
        "256 * CAST(('0x' || substr(hx, CAST((44 + i * 2) * 2 + 3 AS INT), 2)) AS BIGINT))"
      "WITH bw AS (SELECT regexp_extract(filename, '[^/]+$') AS fname, hex(content) AS hx " +
        s"FROM read_blob('$audioFixture/*.wav')), " +
        s"samp AS (SELECT fname, list_transform(range(0, 800), i -> " +
        s"CASE WHEN $raw >= 32768 THEN $raw - 65536 ELSE $raw END) AS samples FROM bw), " +
        "ws AS (SELECT fname, w, list_slice(samples, CAST(w * 100 + 1 AS INT), " +
        "CAST(w * 100 + 100 AS INT)) AS s FROM samp CROSS JOIN range(0, 8) rw(w)), " +
        "feat AS (SELECT fname, w, list_max(list_transform(s, x -> abs(x))) AS peak, " +
        "CAST(list_sum(list_transform(range(1, 100), j -> " +
        "CASE WHEN s[CAST(j AS INT)] * s[CAST(j + 1 AS INT)] < 0 THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings, " +
        "CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sumsq FROM ws) " +
        "SELECT fname, w AS win, CAST(100 AS BIGINT) AS n_samples, peak, zero_crossings, " +
        Tables.r6sql("sqrt(CAST(sumsq AS DOUBLE) / 100)") + " AS rms " +
        "FROM feat ORDER BY fname, win"
    }),
    // same single-channel block math as q326, frame offset = 4 + t*256;
    // the bv→fr→sums→tot→hsh chain is shared with the q331 oracle
    Q("q329_video_frame_sample", q329 _, Some {
      videoHashCtes +
        " SELECT h.video, CAST(h.t AS BIGINT) AS frame_idx, h.lo, h.hi, " +
        Tables.r6sql("CAST(tt.total AS DOUBLE) / 256") + " AS mean_lum " +
        "FROM hsh h JOIN tot tt ON h.video = tt.video AND h.t = tt.t " +
        "ORDER BY h.video, frame_idx"
    }),
    Q("q332_video_dup_footage", q332 _, Some {
      videoHashCtes + ", " +
        "banded AS (SELECT video, t, lo, hi, b, CASE WHEN b < 4 THEN (lo >> CAST(b * 8 AS INT)) & 255 " +
        "ELSE (hi >> CAST((b - 4) * 8 AS INT)) & 255 END AS k FROM hsh CROSS JOIN range(0, 8) rb2(b)) " +
        "SELECT video_a, video_b, frame_a, frame_b, " +
        "CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS BIGINT) AS hamming " +
        "FROM (SELECT DISTINCT l.video AS video_a, r.video AS video_b, " +
        "CAST(l.t AS BIGINT) AS frame_a, CAST(r.t AS BIGINT) AS frame_b, " +
        "l.lo AS la, r.lo AS lb, l.hi AS ha, r.hi AS hb " +
        "FROM banded l JOIN banded r ON l.b = r.b AND l.k = r.k AND l.video < r.video) p " +
        "WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 6 " +
        "ORDER BY video_a, video_b, frame_a, frame_b"
    }),
    Q("q331_video_shot_boundary", q331 _, Some {
      videoHashCtes +
        " SELECT video, frame_idx, prev_idx, hamming, hamming > 16 AS is_cut FROM (" +
        "SELECT video, CAST(t AS BIGINT) AS frame_idx, " +
        "CAST(LAG(t) OVER w AS BIGINT) AS prev_idx, " +
        "CAST(bit_count(xor(lo, LAG(lo) OVER w)) + bit_count(xor(hi, LAG(hi) OVER w)) AS BIGINT) AS hamming " +
        "FROM hsh WINDOW w AS (PARTITION BY video ORDER BY t)) " +
        "WHERE prev_idx IS NOT NULL ORDER BY video, frame_idx"
    }),
    // q326's block sums re-derived per (image, block) — exploded scalar
    // rows, never an array column (the harness compare row-sorts)
    Q("q330_image_resize", q330 _, Some(
      "WITH bl AS (SELECT regexp_extract(filename, '[^/]+$') AS img, hex(content) AS hx " +
        s"FROM read_blob('$imageFixture/*.bmp')) " +
        "SELECT img, CAST(16 AS BIGINT) AS in_w, CAST(16 AS BIGINT) AS in_h, " +
        "CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h, bi, " +
        "CAST(list_sum(list_transform(range(0, 12), i -> " +
        "CAST(('0x' || substr(hx, CAST((54 + (15 - ((bi // 8) * 2 + (i // 3) // 2)) * 48 + " +
        "((bi % 8) * 2 + (i // 3) % 2) * 3 + i % 3) * 2 + 1 AS INT), 2)) AS BIGINT))) AS BIGINT) AS px " +
        "FROM bl CROSS JOIN range(0, 64) rb(bi) ORDER BY img, bi")),
    Q("q114_join_dpp", q114 _, Some(
      "SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year, COUNT(*) AS cnt " +
        "FROM orders WHERE YEAR(o_orderdate) IN (1996, 1997, 1998) " +
        "GROUP BY 1 ORDER BY o_year")),
    Q("q110_zorder_locality", q110 _, Some(
      "WITH b AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS x, " +
        "CAST(FLOOR((c_acctbal + 1000.0) / 400.0) AS BIGINT) AS y FROM customer), " +
        "zt AS (SELECT x, y, " + zBits + " AS z FROM b) " +
        "SELECT z // 64 AS tile, COUNT(*) AS n, MIN(x) AS x_min, MAX(x) AS x_max, " +
        "MIN(y) AS y_min, MAX(y) AS y_max FROM zt GROUP BY 1 ORDER BY tile")),
    Q("q231_scan_codecs", q231 _, Some(
      // losslessness is the claim; the oracle derives the per-codec row
      // from the original table (3 identical rows, one per codec)
      "SELECT codec, CAST(n AS BIGINT) AS n_rows, " +
        "CAST(sk AS BIGINT) AS sum_keys, CAST(sl AS BIGINT) AS sum_name_len " +
        "FROM (SELECT COUNT(*) AS n, SUM(n_nationkey) AS sk, " +
        "SUM(LENGTH(n_name)) AS sl FROM nation) " +
        "CROSS JOIN (VALUES ('gzip'), ('snappy'), ('zstd')) c(codec) " +
        "ORDER BY codec")),
    Q("q223_write_compaction", q223 _, Some(
      // n_files is determined by the writer contract: one task (coalesce 1)
      // × one open file per partition value, rolled every 100 records ⇒
      // ceil(n_rows / 100) files per lang. The oracle derives the same
      // number from the original table — the read-back file census must
      // agree or the writer contract broke.
      "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST((COUNT(*) + 99) // 100 AS BIGINT) AS n_files, " +
        "CAST(LEAST(COUNT(*), 100) AS BIGINT) AS max_file_rows " +
        "FROM documents GROUP BY lang ORDER BY lang")),
    Q("q218_export_jsonl", q218 _, Some(
      // lossless roundtrip ⇒ oracle on the original table (q209 precedent)
      "SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_len, " +
        "CAST(SUM(doc_id) AS BIGINT) AS sum_ids " +
        "FROM documents GROUP BY 1, 2 ORDER BY lang, source")),
    Q("q209_scan_text_lines", q209 _, Some(
      // the roundtrip is lossless, so the oracle states the semantics on
      // the original table directly (q69/q184 precedent)
      "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars, " +
        "CAST(SUM(doc_id) AS BIGINT) AS sum_ids " +
        "FROM documents GROUP BY lang ORDER BY lang")),
  )

  /** q209: raw text-lines sink + source round-trip — the LAST first-class
    * Spark batch file format the scan family lacked (q02 CSV, q03 JSON,
    * q69 ORC, q184 Avro, parquet everywhere): documents serialized as
    * TSV-ish lines (`doc_id\tlang\ttext` — the corpus text is
    * whitespace-tokenized, so the tab delimiter cannot collide), written
    * with `write.text`, read back with `read.text`, re-parsed, and
    * checksummed per language. The "plain .txt corpus dump" ingest shape
    * of every web-crawl pipeline.
    *
    * Scale: text read/write is splittable and narrow (no shuffle until
    * the final bounded per-lang agg); parsing is per-row split()
    * expressions inside codegen. */
  /** q231: compression-codec roundtrips — `nation` written and re-read
    * under each of parquet's production codecs (snappy: the default
    * speed point; gzip: the legacy-compatibility point; zstd: the
    * modern ratio point a 100 TB lake actually standardizes on), each
    * proven lossless by identical checksums. Codec choice is a
    * first-class storage knob (3–5× size differences at corpus scale
    * decide scan cost); this pins the engine's ability to WRITE all
    * three and MIX them transparently on read.
    *
    * Scale: three tiny write+read passes here; at scale codec is
    * per-table config — the reader dispatches per file footer, so
    * mixed-codec tables (mid-migration) read fine, which is exactly
    * what the union of three roundtrips exercises. */
  private def q231(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Tables(spark, sfDir, "nation")
    Seq("gzip", "snappy", "zstd").map { codec =>
      val path = tmp(s"codec_$codec", sfDir)
      nation.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("compression", codec).parquet(path)
      spark.read.schema(nation.schema).parquet(path)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_nationkey").cast("bigint")).as("sum_keys"),
          sum(length(col("n_name")).cast("bigint")).as("sum_name_len"))
        .select(lit(codec).as("codec"), col("n_rows"),
          col("sum_keys"), col("sum_name_len"))
    }.reduce(_ unionByName _)
      .orderBy("codec")
  }

  /** q223: partitioned write with file-size control — the lakehouse
    * layout/compaction contract: documents written `partitionBy(lang)`
    * under `maxRecordsPerFile = 100` from one task, then the read-back
    * census proves the layout (files per partition = ⌈rows/100⌉, no
    * file over the cap). This is the writer-side knob that keeps a
    * 100 TB table from becoming a million 10 KB files — the q70
    * partition-pruning read's other half. File identity comes from
    * `input_file_name()` on the read-back (per-row, no extra pass).
    *
    * Scale: the write is one pass; at cluster scale the same contract
    * holds per task (files = tasks × values × ⌈rows/cap⌉ — which is
    * exactly why compaction jobs repartition BY the partition column
    * first, as here via coalesce). */
  private def q223(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val path = tmp("compact_docs", sfDir)
    docs.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 100)
      .partitionBy("lang").parquet(path)
    spark.read.parquet(path)
      .select(col("lang"), expr("input_file_name()").as("f"))
      .groupBy("lang", "f").agg(count(lit(1)).as("rows_in_file"))
      .groupBy("lang")
      .agg(sum("rows_in_file").as("n_rows"),
        count(lit(1)).as("n_files"),
        max("rows_in_file").as("max_file_rows"))
      .orderBy("lang")
  }

  /** q218: JSONL training-data export — the interchange format every
    * training stack ingests: each document serialized as one JSON line
    * via `to_json(struct(...))` (explicit field layout — the export
    * contract, not whatever write.json infers) through the text sink,
    * read back with a schema-pinned `read.json`, and checksummed per
    * (lang, source). JSON string escaping makes the payload roundtrip
    * lossless for arbitrary text.
    *
    * Scale: both directions are narrow splittable scans; to_json is a
    * per-row codegen expression; the only shuffle is the bounded final
    * checksum agg. */
  private def q218(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val path = tmp("jsonl_docs", sfDir)
    docs.select(to_json(struct(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("text"))).as("value"))
      .coalesce(1).write.mode(SaveMode.Overwrite).text(path)
    spark.read
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG, text STRING")
      .json(path)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).as("sum_text_len"), sum(col("doc_id")).as("sum_ids"))
      .orderBy("lang", "source")
  }

  private def q209(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val path = tmp("text_docs", sfDir)
    docs.select(concat_ws("\t",
        col("doc_id").cast("string"), col("lang"), col("text")).as("value"))
      .coalesce(1).write.mode(SaveMode.Overwrite).text(path)
    spark.read.text(path)
      .select(split(col("value"), "\t", 3).as("f"))
      .select(col("f").getItem(0).cast("bigint").as("doc_id"),
        col("f").getItem(1).as("lang"), col("f").getItem(2).as("text"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy("lang")
  }
}
