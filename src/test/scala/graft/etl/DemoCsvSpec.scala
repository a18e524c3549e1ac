package graft.etl

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.functions._
import graft.rdf.NS

/** E1 end-to-end on synthetic FIXTURES.md-schema fixtures (12 rows,
  * 3 series, one droid Folder row with empty SIZE). */
class DemoCsvSpec extends graft.SparkSuite {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-demo").toString
    val header = ("Plaats;Doos-nummer;Inventarisnummer;Volgnummer;Serie;" +
      "Datering;Volgordenummer;Titel;Beschrijving voorkant;Bijzonderheden;" +
      "Plaats 1;Plaats 2;Plaats 3;Schaal;Coördinaat - Linksonder;" +
      "Coördinaat Rechtsboven;Breedte (cm);Hoogte (cm);Soort;Betrokkene type;" +
      "Auteursrecht;Fotograaf naam;Gemeentenaam;Gemeente identificatie;Kleurtype")
    val rows = (1 to 12).map { i =>
      val serie = (i - 1) / 4 + 1 // 3 series of 4
      val bijz = if (i % 3 == 0) "needs review" else ""
      val plaats2 = if (i % 2 == 0) "Odijk" else ""
      Seq("Utrecht", s"1984-$serie", i, i, serie, f"1984-${(i % 12) + 1}%02d-15",
        "", s"Luchtfoto $i", s"Beschrijving $i", bijz,
        "Bunnik", plaats2, "", "1:2000",
        s"X ${136000000 + i * 1000} Y ${451000000 + i * 1000}",
        s"X ${137000000 + i * 1000} Y ${452000000 + i * 1000}",
        18, 18, "luchtfoto", "fotograaf", "publiek", "Aviodrome",
        "Bunnik", "0312", "zwartwit").mkString(";")
    }
    Files.writeString(JPaths.get(d, "metadata.csv"),
      (header +: rows).mkString("\n"))
    val droidHeader = "ID,PARENT_ID,URI,FILE_PATH,NAME,METHOD,STATUS,SIZE," +
      "TYPE,EXT,LAST_MODIFIED,EXTENSION_MISMATCH,MD5_HASH,FORMAT_COUNT," +
      "PUID,MIME_TYPE,FORMAT_NAME,FORMAT_VERSION"
    val droidRows = (1 to 12).map { i =>
      val name = s"1984_0${(i - 1) / 4 + 1}_" + f"$i%03d" + ".jpg"
      s"$i,0,file:/x/$name,/x/$name,$name,Signature,Done,${i * 1000}," +
        s"File,jpg,2024-01-01T00:00:00,false,${"ab" * 16},1,fmt/43,image/jpeg,JPEG,1.01"
    } :+ "99,0,file:/x/dir,/x/dir,somedir,,Done,,Folder,,2024-01-01T00:00:00,false,,0,,,," // empty-SIZE folder row
    Files.writeString(JPaths.get(d, "droid.csv"),
      (droidHeader +: droidRows).mkString("\n"))
    d
  }

  private lazy val vocab = {
    import spark.implicits._
    Seq(
      ("soort", "luchtfoto", "https://data.razu.nl/id/soort/luchtfoto"),
      ("plaats", "Bunnik", "https://data.razu.nl/id/plaats/bunnik"),
      ("plaats", "Odijk", "https://data.razu.nl/id/plaats/odijk"),
      ("kleurtype", "zwartwit", "https://data.razu.nl/id/kleur/zwartwit"),
      ("actor", "Aviodrome", "https://data.razu.nl/id/actor/aviodrome"))
      .toDF("vocabulary", "term", "uri")
  }

  private lazy val triples = DemoCsv.run(spark,
    s"$dir/metadata.csv", s"$dir/droid.csv", vocab).cache()

  test("interleaved id assignment matches the reference's Incrementer") {
    // 12 rows, serie breaks at rows 1, 5, 9. Reference order: archive=1,
    // serie=2, record=3, bestand=4, record=5, bestand=6 ... new serie
    // gets the next id at its first row.
    val recordIds = triples
      .filter(col("predicate") === (NS.LDTO + "heeftRepresentatie"))
      .select("subject").collect()
      .map(r => graft.ids.Identifiers.default
        .extractIdFromIdentifier(r.getString(0)).toLong)
      .sorted
    // simulated Incrementer: archive=1; row1: serie=2, record=3,
    // bestand=4; rows 2-4: 5/6, 7/8, 9/10; row5: serie=11, record=12 ...
    assert(recordIds.toSeq == Seq(3L, 5L, 7L, 9L, 12L, 14L, 16L, 18L, 21L, 23L, 25L, 27L))
    val serieNames = triples.filter(col("predicate") === (NS.LDTO + "naam")
      && col("objectValue").startsWith("Serie ")).count()
    assert(serieNames == 3)
    val serieSubjects = triples
      .filter(col("objectValue") === (NS.LDTO + "Serie"))
      .select("subject").collect().map(r => graft.ids.Identifiers.default
        .extractIdFromIdentifier(r.getString(0)).toLong).sorted
    assert(serieSubjects.toSeq == Seq(2L, 11L, 20L))
  }

  test("M3 filename pads like zfill: item 1000 and a 3-digit box keep every digit") {
    import spark.implicits._
    val names = Seq(("1984-1", 7), ("1984-12", 42), ("1984-123", 1000))
      .toDF("doos", "volg")
      .select(DemoCsv.bestandsnaamCol(col("doos"), col("volg")))
      .as[String].collect().toSeq
    assert(names == Seq("1984_01_007.jpg", "1984_12_042.jpg", "1984_123_1000.jpg"))
  }

  test("J1 vocabulary resolution and F1 null guards") {
    val classif = triples.filter(col("predicate") === (NS.LDTO + "classificatie"))
      .select("objectValue").distinct().collect().map(_.getString(0)).toSet
    assert(classif == Set("https://data.razu.nl/id/soort/luchtfoto",
      "https://data.razu.nl/id/kleur/zwartwit"))
    // Plaats 2 = "Odijk" only on even rows → 6 dekkingInRuimte/odijk
    val odijk = triples.filter(col("objectValue").endsWith("/plaats/odijk")).count()
    assert(odijk == 6)
    // empty CSV cells arrive as nulls → no triple (F1)
    val bijz = triples.filter(col("predicate") === (NS.LDTO + "bijzonderheden")).count()
    assert(bijz == 4) // rows 3,6,9,12
  }

  test("J2 DROID join carries size + checksum; hierarchy links are closed") {
    val omvang = triples.filter(col("predicate") === (NS.LDTO + "omvang"))
      .select(col("objectValue").cast("long")).collect().map(_.getLong(0)).sorted
    assert(omvang.toSeq == (1 to 12).map(_ * 1000L))
    val fwd = triples.filter(col("predicate") === (NS.LDTO + "heeftRepresentatie"))
      .select(col("subject"), col("objectValue")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val back = triples.filter(col("predicate") === (NS.LDTO + "isRepresentatieVan"))
      .select(col("objectValue"), col("subject")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fwd == back)
    val bevat = triples.filter(col("predicate") === (NS.LDTO + "bevatOnderdeel")).count()
    assert(bevat == 12)
  }

  test("J1 triple-shaped vocab resolves through label variants (altLabel@nl)") {
    import spark.implicits._
    val skos = "http://www.w3.org/2004/02/skos/core#"
    // same concepts, but Aviodrome is only reachable via altLabel@nl and
    // zwartwit via skos:notation — the exact-prefLabel-only join of
    // rounds 1-2 would miss both
    val triplesVocab = Seq(
      ("soort", "urn:soort:luchtfoto", skos + "prefLabel", "luchtfoto", "literal", null),
      ("plaats", "urn:plaats:bunnik", skos + "prefLabel", "Bunnik", "literal", null),
      ("plaats", "urn:plaats:odijk", skos + "prefLabel", "Odijk", "literal", null),
      ("kleurtype", "urn:kleur:zwartwit", skos + "notation", "zwartwit", "literal", null),
      ("actor", "urn:actor:aviodrome", skos + "altLabel", "Aviodrome", "literal", "nl"))
      .toDF("vocabulary", "subject", "predicate", "objectValue", "objectKind", "lang")
    val out = DemoCsv.run(spark, s"$dir/metadata.csv", s"$dir/droid.csv",
      triplesVocab)
    val creators = out.filter(col("predicate") === (NS.SCHEMA + "creator"))
      .select("objectValue").distinct().collect().map(_.getString(0)).toSet
    assert(creators == Set("urn:actor:aviodrome"))
    val classif = out.filter(col("predicate") === (NS.LDTO + "classificatie"))
      .select("objectValue").distinct().collect().map(_.getString(0)).toSet
    assert(classif == Set("urn:soort:luchtfoto", "urn:kleur:zwartwit"))
  }

  test("A1 archive coverage and G3 WKT geometry") {
    val begin = triples.filter(col("subject") ===
        graft.ids.Identifiers.default.uriFromId("1"))
    assert(begin.filter(col("predicate") === NS.rdfType)
      .select("objectValue").head().getString(0) == NS.LDTO + "Archief")
    val dekking = triples.filter(col("predicate") === (NS.LDTO + "begin")
        && col("datatype") === NS.xsdDate)
      .select("objectValue").collect().map(_.getString(0))
    assert(dekking.contains("1984-01-15")) // min month over rows
    val wkt = triples.filter(col("predicate") === (NS.GEO + "asWKT"))
    assert(wkt.count() == 12)
    val one = wkt.select("objectValue").head().getString(0)
    assert(one.startsWith("POLYGON((5.") && one.contains(" 52."))
  }
}
