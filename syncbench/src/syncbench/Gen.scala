package syncbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.delete.DeleteFlow
import graft.model.Ns
import graft.view.{CollectionPipeline, IiifPipeline, OrganizationPipeline, PersonPipeline, ViewParams}
import graft.view.EntityPipeline.Vocab

/** Input sizes of one benchmark run. */
final case class Size(orgs: Int, entities: Int, things: Int, persons: Int,
                      collections: Int, batches: Int, docs: Int)

/** Seeded input generator: the source KG dump and its `since` batches
  * (`sync`) and the planted-duplicate corpus (`corpus_prep`), together
  * with every workload's expected output.
  *
  * The skeleton is TPC-H shaped, as the engine's battery testdata is:
  * customers become organizations, orders become intellectual entities
  * and line items become the entities' files. All randomness flows from
  * one `SplittableRandom(seed)` in a fixed call order and every file is
  * written in a fixed order, so one seed gives byte-identical files.
  *
  * Expected outputs are derived here from the generator's own model,
  * never by running the engine: each table's expectation is the sorted
  * list of its row keys ([[Gen.key]]), which pins both the row count and
  * the key set.
  */
final class Gen(seed: Long, val size: Size) {
  import Gen._

  private val rng = new SplittableRandom(seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.length))
  private def pickDistinct[T](xs: IndexedSeq[T], n: Int): Vector[T] = {
    var out = Vector.empty[T]
    while (out.length < n) { val x = pick(xs); if (!out.contains(x)) out :+= x }
    out
  }

  // ---- skeleton -------------------------------------------------------

  /** Orgs `orgs - TinyOrgs` .. `orgs - 1` own exactly one entity each;
    * the batch schedule tombstones them so an index partition empties. */
  val orgs: Vector[Org] = Vector.tabulate(size.orgs)(k => Org(k, Sectors(k % Sectors.length)))

  private def mkEntity(i: Int, org: Int): Entity = {
    val typ = rng.nextInt(4)
    val licenses = pickDistinct(Allowed, 1 + rng.nextInt(2))
    Entity(
      i = i, typ = typ, org = org,
      date = f"${1992 + rng.nextInt(7)}%04d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d",
      licenses = licenses,
      formats = pickDistinct(FormatPool, 1 + rng.nextInt(2)),
      keywords = pickDistinct(KeywordPool, rng.nextInt(4)),
      genre = pick(GenrePool), lang = pick(LangPool),
      place = rng.nextInt(PlacePool), thing = rng.nextInt(size.things),
      persons = pickDistinct(0 until size.persons, rng.nextInt(3)),
      coll = if (rng.nextInt(10) < 7) Some(rng.nextInt(size.collections)) else None,
      carrier = rng.nextInt(10) match { case 0 | 1 => 1; case 2 => 2; case _ => 0 },
      medium = rng.nextInt(MediumPool), coloring = rng.nextInt(ColoringPool),
      files = 1 + rng.nextInt(4), version = 0)
  }

  private val normalOrgs = size.orgs - TinyOrgs
  val entities: Vector[Entity] = Vector.tabulate(size.entities) { i =>
    mkEntity(i, if (i >= size.entities - TinyOrgs) normalOrgs + (size.entities - 1 - i)
    else rng.nextInt(normalOrgs))
  }

  // ---- sync: the source KG dump ----------------------------------------

  /** The KG dump as N-Triples lines, in a fixed order; shared nodes
    * (things, persons, places, thesauri, collections) appear once. */
  def kgLines: Iterator[String] = {
    val shared = Iterator.tabulate(size.orgs)(k => orgTriples(orgs(k))).flatten ++
      Iterator.tabulate(size.things)(thingTriples).flatten ++
      Iterator.tabulate(size.persons)(personTriples).flatten ++
      Iterator.tabulate(size.collections)(collTriples).flatten ++
      Iterator.tabulate(PlacePool)(p => Iterator(lit(placeIri(p), Vocab.SchemaNs + "name", s"Place $p"))).flatten ++
      Iterator.tabulate(MediumPool)(m => Iterator(lit(mediumIri(m), Vocab.PrefLabel, s"Medium $m", "nl"))).flatten ++
      Iterator.tabulate(ColoringPool)(c => Iterator(lit(coloringIri(c), Vocab.PrefLabel, s"Kleur $c", "nl"))).flatten ++
      Iterator(lit(Vocab.ImageReel, Vocab.RdfsLabel, "Filmrol", "nl"))
    shared ++ entities.iterator.flatMap(entityTriples)
  }

  private def orgTriples(o: Org): Iterator[String] = {
    import OrganizationPipeline.V._
    val s = o.iri
    Iterator(
      iri(s, Ns.RdfType, Organization),
      lit(s, PrefLabel, s"Organisatie ${o.k}", "nl"),
      lit(s, PrefLabel, s"Organization ${o.k}", "en"),
      lit(s, Identifier, o.ident),
      lit(s, Description, s"Archief ${o.k}", "nl"),
      iri(s, Homepage, s"https://example.org/org/${o.k}"),
      lit(s, Sector, o.sector),
      iri(s, Classification, s"${Id}class/${o.sector}"),
      iri(s, HasSite, o.site), iri(o.site, SiteAddress, o.addr),
      lit(o.addr, StreetAddress, s"Straat ${o.k}"),
      lit(o.addr, AddressLocality, "Gent"),
      lit(o.addr, PostalCode, f"${9000 + o.k}%d"),
      lit(o.addr, AddressCountry, "BE"),
      iri(s, ContactPoint, o.cp),
      lit(o.cp, ContactType, "primary"),
      lit(o.cp, Email, s"info@org${o.k}.example"),
      lit(o.cp, Telephone, f"+32 9 ${o.k}%06d"))
  }

  private def thingTriples(t: Int): Iterator[String] = Iterator(
    iri(thingIri(t), Ns.RdfType, Vocab.SchemaThing),
    lit(thingIri(t), Vocab.SchemaNs + "name", s"Maker $t"))

  private def personTriples(p: Int): Iterator[String] = {
    import PersonPipeline.V._
    val s = personIri(p)
    Iterator(
      lit(s, Name, s"Person $p"),
      lit(s, BirthDate, f"${1900 + p % 90}%04d-01-01"),
      lit(s, Confidence, "0.9"),
      iri(s, Highlight, highlightIri(p)),
      lit(highlightIri(p), X, s"${p % 100}.5"),
      lit(highlightIri(p), Y, s"${p % 37}.25"))
  }

  private def collTriples(c: Int): Iterator[String] = {
    val s = collIri(c)
    Iterator(
      iri(s, Ns.RdfType, collType(c)),
      lit(s, Vocab.SchemaNs + "name", s"Collectie $c"),
      lit(s, CollectionPipeline.V.InLanguage, "nl")) ++
      (if (c % 2 == 0) Iterator(lit(s, Vocab.SeasonNumber, s"${1 + c % 9}"),
        lit(s, CollectionPipeline.V.AlternateName, s"Coll $c alt"))
      else Iterator.empty)
  }

  private def entityTriples(e: Entity): Iterator[String] = {
    import Vocab._
    val s = e.iri
    val b = Iterator.newBuilder[String]
    b += iri(s, Ns.RdfType, EntityTypes(e.typ))
    e.licenses.foreach(l => b += lit(s, License, l))
    b += lit(s, Identifier, e.ident)
    b += lit(s, Name, s"Title ${e.i}")
    b += lit(s, Name, e.name, "nl")
    b += lit(s, Description, s"Beschrijving ${e.i}", "nl")
    b += iri(s, Maintainer, orgs(e.org).iri)
    b += lit(s, DateCreated, e.date)
    b += lit(s, Modified, "2024-01-01")
    b += lit(s, CopyrightNotice, "(c) archief")
    e.keywords.foreach(k => b += lit(s, Keywords, k))
    b += lit(s, Genre, e.genre)
    b += lit(s, InLanguage, e.lang)
    e.formats.foreach(f => b += lit(s, DctFormat, f))
    b += lit(s, AlternateName, s"Alt ${e.i}", "nl")
    b += lit(s, AlternateName, s"Other ${e.i}", "en")
    b += iri(s, Spatial, placeIri(e.place))
    b += lit(s, Temporal, s"${1900 + 10 * (e.i % 10)}s")
    b += iri(s, CopyrightHolder, e.holder)
    b += lit(e.holder, PrefLabel, s"Holder ${e.i}", "nl")
    b += lit(e.holder, SchemaNs + "name", s"holder-${e.i}")
    e.premisIds.foreach(v => b += lit(s, PremisId, v))
    b += lit(s, FragmentPid, e.pid)
    // role node → thing (creator)
    b += iri(s, Creator, e.role)
    b += iri(e.role, Ns.RdfType, SchemaRole)
    b += lit(e.role, RoleName, "Maker")
    b += iri(e.role, Creator, thingIri(e.thing))
    e.persons.foreach(p => b += iri(s, PersonPipeline.V.Mentions, personIri(p)))
    e.coll.foreach(c => b += iri(s, IsPartOf, collIri(c)))
    if (e.carrier > 0) {
      b += iri(s, Isr, e.crep)
      b += iri(e.crep, Ns.RdfType, CarrierRepresentation)
      b += iri(e.crep, StoredAt, e.pc)
      b += iri(e.pc, Ns.RdfType, PhysicalCarrier)
      b += lit(e.pc, SchemaNs + "name", s"Drager ${e.i}", "nl")
      b += lit(e.pc, Identifier, s"pc-${e.i}")
      b += iri(e.pc, Medium, mediumIri(e.medium))
      if (e.carrier == 2) {
        b += iri(e.pc, Ns.RdfType, ImageReel)
        b += iri(e.pc, ColoringType, coloringIri(e.coloring))
      }
    }
    // representation → files
    b += iri(e.rep, Represents, s)
    b += lit(e.rep, SchemaNs + "name", s"Weergave ${e.i}", "nl")
    e.fileIds.zipWithIndex.foreach { case (f, j) =>
      b += iri(e.rep, Includes, f)
      b += lit(f, MimeType, e.mime(j))
      b += lit(f, OriginalName, s"f${e.i}-$j.bin")
      b += lit(f, Duration, s"PT${e.duration(j)}S")
      b += lit(f, SchemaNs + "name", s"Bestand ${e.i}-$j", "nl")
      b += iri(f, ThumbnailUrl, s"https://example.org/thumb/${e.i}-$j")
      b += iri(f, StoredAt, s"${f}/loc")
      b += lit(s"${f}/loc", RdfValue, s"https://example.org/store/${e.i}-$j")
    }
    if (e.typ == 3) {
      b += iri(s, IiifPipeline.V.HasIIIFCopy, e.img)
      b += iri(e.img, IiifPipeline.V.StoredAt, s"${e.img}/loc")
      b += lit(s"${e.img}/loc", IiifPipeline.V.RdfValue, s"https://example.org/iiif/${e.i}")
      b += lit(e.img, IiifPipeline.V.MimeType, "image/jp2")
    }
    b.result()
  }

  /** Expected rows of every table the nightly rebuild writes: the
    * registry tables (as [[stateExpect]] for the initial state) and one
    * table of each view the registry does not cover. */
  def rebuildExpect: Map[String, Vector[String]] = stateExpect(entities) ++ Map(
    "person/graph.schema_mentions" ->
      entities.flatMap(e => e.persons.map(p => key(e.iri, personIri(p)))).sorted,
    "collection/graph.collection" -> entities.flatMap(_.coll).distinct.map(collIri).sorted,
    "iiif/graph.iiif" -> entities.filter(_.typ == 3).map(e => key(e.iri, e.img)).sorted)

  // ---- sync: view-triple state and since batches ------------------------

  /** Each `since` batch and the live entity set after the first `n`. */
  lazy val (batches: Vector[Batch], statesAfter: Vector[Vector[Entity]]) = {
    var live = entities
    var next = size.entities
    val out = Vector.newBuilder[Batch]
    val states = Vector.newBuilder[Vector[Entity]]
    states += live
    for (b <- 0 until size.batches) {
      val since = f"2024-02-${1 + b % 28}%02d"
      val ops = if (kind(b) == "large") LargeBatchOps else SmallBatchOps
      val byI = scala.collection.mutable.LinkedHashMap.empty[Int, Entity]
      def resend(e: Entity): Unit = byI(e.i) = e
      val liveIds = live.map(_.i).filterNot(i => entities.lift(i).exists(e => e.org >= normalOrgs))
      // a batch's make-up is fixed by its kind; only the entities and
      // values it touches come from the seed
      for (op <- 0 until ops) op % 4 match {
        case 0 => // insert
          val e = mkEntity(next, rng.nextInt(normalOrgs))
          next += 1
          resend(e)
        case 1 => // update: renamed
          val e = current(live, byI, pick(liveIds))
          resend(e.copy(version = e.version + 1))
        case 2 => // update: re-dated
          val e = current(live, byI, pick(liveIds))
          resend(e.copy(date = f"${1992 + rng.nextInt(7)}%04d-06-15"))
        case _ => // files: one added
          val e = current(live, byI, pick(liveIds))
          if (e.files < 6) resend(e.copy(files = e.files + 1))
      }
      // deletes: tombstones and license removals on entities this batch
      // does not otherwise touch; a tiny org's only entity goes with the
      // first deleting batches so its index partition empties
      val tomb = Vector.newBuilder[Entity]
      val unlicense = Vector.newBuilder[Entity]
      if (kind(b) == "delete") {
        val pool = liveIds.filterNot(byI.contains)
        val ids = pickDistinct(pool, 3)
        tomb ++= ids.init.map(current(live, byI, _))
        unlicense += current(live, byI, ids.last)
      }
      if (kind(b) == "delete" && b / 3 < TinyOrgs) {
        val tinyOrg = normalOrgs + b / 3
        live.find(_.org == tinyOrg).foreach(tomb += _)
      }
      val dead = (tomb.result() ++ unlicense.result()).map(_.i).toSet
      val upserts = byI.values.toVector
      val updated = upserts.map(e => e.i -> e).toMap
      live = live.filterNot(e => dead(e.i)).map(e => updated.getOrElse(e.i, e)) ++
        upserts.filterNot(e => live.exists(_.i == e.i))
      live = live.sortBy(_.i)
      out += Batch(b, since, upserts, tomb.result(), unlicense.result())
      states += live
    }
    (out.result(), states.result())
  }

  private def current(live: Vector[Entity],
                      byI: scala.collection.Map[Int, Entity], i: Int): Entity =
    byI.getOrElse(i, live.find(_.i == i).get)

  /** Routed view triples of the state a full load starts from. */
  def stateLines(es: Vector[Entity]): Iterator[String] =
    orgs.iterator.flatMap(orgView) ++ es.iterator.flatMap(entityView)

  /** One batch: the view-triple delta of every upserted entity (all its
    * records, as an incremental construct re-emits them) plus the
    * source fragments that flag deletes. */
  def batchLines(bt: Batch): Iterator[String] = {
    import DeleteFlow.V
    bt.upserts.iterator.flatMap(entityView) ++
      bt.tombstones.iterator.flatMap { e =>
        val f = s"$Id" + s"fragment/${e.i}"
        Iterator(lit(f, V.Modified, bt.since), lit(f, V.DateDeleted, bt.since),
          lit(f, V.Pid, s"e${e.i}"))
      } ++
      bt.unlicensed.iterator.flatMap { e =>
        val f = s"$Id" + s"fragment/${e.i}"
        Iterator(lit(f, V.Modified, bt.since), iri(f, V.DerivedFrom, e.iri),
          lit(e.iri, V.License, DisallowedLicense))
      }
  }

  private def route(s: String, table: String): String = lit(s, Ns.TableName, table)
  private def col(s: String, c: String, v: String, lang: String = null): String =
    lit(s, Ns.KgToPostgres + c, v, lang)

  // The routed records carry exactly the registry columns the entity
  // and organization views produce for the same entity, so a full load
  // of the view triples equals the nightly rebuild from the KG dump.
  private def orgView(o: Org): Iterator[String] = Iterator(
    route(o.iri, "graph.organization"), col(o.iri, "id", o.iri),
    col(o.iri, "dcterms_description", s"Archief ${o.k}", "nl"),
    col(o.iri, "foaf_homepage", s"https://example.org/org/${o.k}"),
    col(o.iri, "ha_org_sector", o.sector), col(o.iri, "org_classification", o.sector),
    col(o.iri, "org_identifier", o.ident),
    col(o.iri, "skos_pref_label", s"Organization ${o.k}", "en"),
    col(o.iri, "skos_pref_label", s"Organisatie ${o.k}", "nl"))

  private def entityView(e: Entity): Iterator[String] = {
    val s = e.iri
    val b = Iterator.newBuilder[String]
    b += route(s, "graph.intellectual_entity")
    b += col(s, "id", s)
    b += col(s, "schema_identifier", e.ident)
    b += col(s, "schema_name", s"Title ${e.i}")
    b += col(s, "schema_name", e.name, "nl")
    b += col(s, "schema_description", s"Beschrijving ${e.i}", "nl")
    b += col(s, "schema_date_created", e.date)
    b += col(s, "schema_maintainer", orgs(e.org).iri)
    b += col(s, "schema_copyright_notice", "(c) archief")
    def child(table: String, sub: String, cols: (String, String)*): Unit = {
      b += route(sub, table)
      cols.foreach { case (c, v) => b += col(sub, c, v) }
    }
    child("graph.representation", e.rep, "id" -> e.rep, "premis_represents" -> s)
    b += col(e.rep, "schema_name", s"Weergave ${e.i}", "nl")
    e.fileIds.zipWithIndex.foreach { case (f, j) =>
      child("graph.file", f, "id" -> f, "ebucore_has_mime_type" -> e.mime(j),
        "premis_original_name" -> s"f${e.i}-$j.bin", "schema_duration" -> s"PT${e.duration(j)}S",
        "schema_thumbnail_url" -> s"https://example.org/thumb/${e.i}-$j")
      b += col(f, "schema_name", s"Bestand ${e.i}-$j", "nl")
      child("graph.includes", s"${e.rep}/includes/$j", "representation_id" -> e.rep,
        "file_id" -> f)
    }
    b.result()
  }

  /** Expected rows of every registry table for the live set `es`. */
  def stateExpect(es: Vector[Entity]): Map[String, Vector[String]] = {
    def rows(f: Entity => Seq[String]): Vector[String] = es.flatMap(f).sorted
    Map(
      "graph.organization" -> orgs.map(_.iri).sorted,
      "graph.intellectual_entity" -> rows(e => Seq(e.iri)),
      "graph.representation" -> rows(e => Seq(e.rep)),
      "graph.file" -> rows(_.fileIds),
      "graph.includes" -> rows(e => e.fileIds.map(key(e.rep, _))))
  }

  /** Expected index documents for the live set `es`. */
  def docsExpect(es: Vector[Entity]): Vector[String] = es.map(docKey).sorted

  private def docKey(e: Entity): String = key(orgs(e.org).ident.toLowerCase, e.iri)

  // ---- corpus_prep: planted-duplicate corpus ---------------------------

  /** (id, text) documents plus the ids `prepare(nearDup = true)` keeps:
    * every unique document, and the minimum id of each planted exact or
    * near-duplicate group. Low-quality documents (too short, or mostly
    * punctuation) are planted too and kept by nobody. */
  lazy val (corpus: Vector[(Long, String)], corpusKeepers: Vector[Long]) = {
    val docs = Vector.newBuilder[(Long, String)]
    val keep = Vector.newBuilder[Long]
    var id = 0L
    var n = 0
    def words(k: Int): Vector[String] = Vector.fill(k)(s"w${rng.nextInt(Vocabulary)}")
    def add(text: String): Long = { id += 1 + rng.nextInt(3); n += 1; docs += id -> text; id }
    def render(ws: Vector[String]): String =
      ws.grouped(12).map(_.mkString(" ").capitalize + ".").mkString(" ") + Boilerplate
    while (n < size.docs) rng.nextInt(10) match {
      case 0 | 1 => // exact group: case and punctuation variants
        val base = render(words(40 + rng.nextInt(30)))
        val ids = Vector.tabulate(2 + rng.nextInt(3)) { v =>
          add(if (v % 2 == 0) base else base.toUpperCase.replace(".", "!"))
        }
        keep += ids.min
      case 2 | 3 => // near-duplicate star: one word replaced per copy
        val base = words(50 + rng.nextInt(30))
        val ids = add(render(base)) +: Vector.fill(1 + rng.nextInt(4)) {
          add(render(base.updated(5 + rng.nextInt(base.length - 10), s"x${rng.nextInt(Vocabulary)}")))
        }
        keep += ids.min
      case 4 => // low quality: too short, or punctuation-heavy
        if (rng.nextBoolean()) add("too short")
        else add(Vector.fill(30)("!?;").mkString(" ") + " a b c d e f g h i j")
      case _ =>
        keep += add(render(words(40 + rng.nextInt(40))))
    }
    (docs.result(), keep.result().sorted)
  }

  // ---- files -------------------------------------------------------------

  /** Write every input file, and the expected outputs, under `dir`. */
  def writeAll(dir: File): Unit = {
    dir.mkdirs()
    writeLines(new File(dir, "kg.nt"), kgLines)
    batches.foreach(bt => writeLines(new File(dir, f"batch_${bt.n}%03d.nt"), batchLines(bt)))
    writeLines(new File(dir, "corpus.jsonl"), corpus.iterator.map { case (i, t) =>
      s"""{"id":$i,"text":"${t.replace("\\", "\\\\").replace("\"", "\\\"")}"}""" })
    val expectDir = new File(dir, "expected")
    expectDir.mkdirs()
    def writeExpect(name: String, m: Map[String, Vector[String]]): Unit =
      writeLines(new File(expectDir, name), m.toSeq.sortBy(_._1).iterator.flatMap {
        case (t, ks) => ks.iterator.map(k => s"$t\t$k") })
    writeExpect("sync_rebuild.tsv", rebuildExpect + ("docs" -> docsExpect(entities)))
    writeLines(new File(expectDir, "sync_live_after_batch.tsv"), statesAfter.iterator.zipWithIndex
      .drop(1).map { case (es, n) => s"$n\t${es.map(_.i).mkString(",")}" })
    writeLines(new File(expectDir, "corpus_prep.tsv"), corpusKeepers.iterator.map(_.toString))
  }
}

final case class Org(k: Int, sector: String) {
  import Gen.Id
  val iri = s"${Id}org/$k"
  val ident = f"OR-$k%04d"
  val site = s"${Id}site/$k"
  val addr = s"${Id}address/$k"
  val cp = s"${Id}contact/$k"
}

final case class Entity(i: Int, typ: Int, org: Int, date: String,
                        licenses: Vector[String], formats: Vector[String],
                        keywords: Vector[String], genre: String, lang: String,
                        place: Int, thing: Int, persons: Vector[Int],
                        coll: Option[Int], carrier: Int, medium: Int, coloring: Int,
                        files: Int, version: Int) {
  import Gen._
  val iri = s"${Gen.EntityBase}e$i"
  def ident = s"id-$i"
  def name = if (version == 0) s"Titel $i" else s"Titel $i v$version"
  def pid = s"e$i"
  def role = s"${Id}role/$i"
  def rep = s"${Id}representation/$i"
  def crep = s"${Id}carrier-rep/$i"
  def pc = s"${Id}carrier/$i"
  def img = s"${Id}iiif/$i"
  def holder = s"${Id}holder/$i"
  def premisIds = Vector(s"urn:primary:$i", s"${Id}local/$i")
  def fileIds: Vector[String] = Vector.tabulate(files)(j => s"${Id}file/$i-$j")
  def mime(j: Int): String = { val ms = Mimes(typ); ms(j % ms.length) }
  def duration(j: Int): Int = 30 + (i * 7 + j * 13) % 3600
}

/** One `since` batch: entities re-emitted in full, entities tombstoned
  * and entities whose last allowed license is removed. */
final case class Batch(n: Int, since: String, upserts: Vector[Entity],
                       tombstones: Vector[Entity], unlicensed: Vector[Entity]) {
  def deletes: Int = tombstones.length + unlicensed.length
}

object Gen {
  val Id = "https://data.hetarchief.be/id/"
  val EntityBase: String = ViewParams().prefixIdBase
  val Sectors = Vector("Cultuur", "Media", "Overheid", "Onderwijs", "Erfgoed")
  val Allowed: Vector[String] = DeleteFlow.DefaultAllowedLicenses.toVector
  val DisallowedLicense = "VIAA-INTERN"
  val FormatPool = Vector("video", "audio", "text", "image")
  val KeywordPool: Vector[String] = Vector.tabulate(50)(k => s"kw$k")
  val GenrePool: Vector[String] = Vector.tabulate(10)(g => s"genre$g")
  val LangPool = Vector("nl", "fr", "en")
  val EntityTypes = Vector(Vocab.SchemaNs + "AudioObject", Vocab.SchemaNs + "VideoObject",
    Vocab.SchemaNs + "CreativeWork", Vocab.SchemaNs + "Newspaper")
  /** File mimes per entity type, each accepted by that type's view. */
  val Mimes = Vector(Vector("audio/mpeg", "audio/wav"), Vector("video/mp4"),
    Vector("video/mp4", "audio/mpeg"), Vector("image/jpeg", "application/xml"))
  /** Five typed collection kinds the entity view links, then a
    * newspaper title only the collection view reads. */
  val CollTypes: Vector[String] = Vocab.CollectionTypes.map(_._1).toVector :+ (Vocab.SchemaNs + "Newspaper")
  def collType(c: Int): String = CollTypes(c % CollTypes.length)
  val PlacePool = 30
  val MediumPool = 5
  val ColoringPool = 3
  val TinyOrgs = 3
  /** Batch schedule: every third batch (from the first) also deletes,
    * and a large batch comes every sixth: deleting, small, large,
    * deleting, small, small, and again. */
  def kind(b: Int): String =
    if (b % 3 == 0) "delete" else if (b % 6 == 2) "large" else "small"
  val SmallBatchOps = 6
  val LargeBatchOps = 60
  val Vocabulary = 20000
  val Boilerplate = " Bron: het archief, alle rechten voorbehouden."

  def thingIri(t: Int) = s"${Id}thing/$t"
  def personIri(p: Int) = s"${Id}person/$p"
  def highlightIri(p: Int) = s"${Id}highlight/$p"
  def collIri(c: Int) = s"${Id}collection/$c"
  def placeIri(p: Int) = s"${Id}place/$p"
  def mediumIri(m: Int) = s"${Id}medium/$m"
  def coloringIri(c: Int) = s"${Id}coloring/$c"

  /** Row key of an expected or observed row: its key columns joined by
    * '|'; NULL reads as "null". */
  def key(parts: String*): String = parts.map(p => if (p == null) "null" else p).mkString("|")

  private def esc(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
  def iri(s: String, p: String, o: String): String = s"<$s> <$p> <$o> ."
  def lit(s: String, p: String, v: String, lang: String = null): String =
    if (lang == null) s"""<$s> <$p> "${esc(v)}" ."""
    else s"""<$s> <$p> "${esc(v)}"@$lang ."""

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
