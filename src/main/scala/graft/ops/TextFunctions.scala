package graft.ops

import graft.functions.{LangId, LangIdMargin, MarkerScore, MarkerTable, Md5Prefix60, QualityScore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, token counting, document
  * fingerprinting. All `Column` expressions — Spark built-ins or the
  * engine's native codegen'd expressions (`graft.functions`), no UDFs — so
  * they fuse into the scan stage and cost one pass at 100 TB.
  *
  * Determinism contract: every function here is reproducible across engines
  * (hashes derived from md5; integer arithmetic; fixed tie-break order) so
  * results can be oracle-checked externally.
  */
object TextFunctions {

  /** `c` under one of the engine's native expressions. */
  private def native(c: Column)(mk: Expression => Expression): Column =
    ColumnBridge.column(mk(ColumnBridge.expression(c)))

  /** Large prime modulus for 60-bit md5-derived hashes. */
  val HashMod: Long = 2147483647L // 2^31 - 1

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** `lucene.standard`-style analysis: lowercase + split on every
    * non-alphanumeric run — "Stream, filter!" analyzes to
    * [stream, filter], so phrase/text matching tolerates punctuation and
    * case the way an analyzed Lucene index does. */
  def standardTokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => t =!= lit(""))

  /** Driver-side twin of [[standardTokens]] for analyzing literal query
    * strings at compile time. */
  def standardTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq

  /** Lucene's default English stop set (StopAnalyzer/EnglishAnalyzer) —
    * removed BEFORE stemming, matching the Lucene filter chain order. */
  private[graft] val EnglishStopWords = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  // possessive 's goes on the RAW text (standard tokenization would
  // split "dog's" into [dog, s] and orphan the s)
  private val PossessivePattern = "(?<=[\\p{L}\\p{N}])['’]s(?![\\p{L}\\p{N}])"

  /** `lucene.english`-style analysis: lowercase, strip possessive `'s`,
    * split on non-alphanumeric runs, drop Lucene's English stop words,
    * Porter-stem each token — "The filtering systems" analyzes to
    * [filter, system], so stemmed matching behaves like an
    * english-analyzed Lucene index. Pure scan-fused expressions: the
    * stem is the native [[graft.functions.PorterStem]] (one static call
    * per token inside codegen), everything else is regexp/split/filter
    * algebra. */
  def englishTokens(text: Column): Column =
    transform(
      filter(
        split(regexp_replace(lower(text), PossessivePattern, ""),
          "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(EnglishStopWords.toSeq: _*)),
      t => graft.functions.StemFunctions.porter_stem(t))

  /** Driver-side twin of [[englishTokens]] for literal query strings —
    * the SAME [[graft.functions.Porter.stem]] the column path calls, so
    * the two can never disagree. */
  def englishTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .replaceAll(PossessivePattern, "")
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !EnglishStopWords(t))
      .map(graft.functions.Porter.stem).toSeq

  /** Snowball French stop list (the set behind Lucene's french_stop.txt):
    * articles/pronouns/prepositions plus the conjugated être/avoir forms.
    * The single letters c/d/j/l/m/n/s/t/qu absorb elisions — the
    * non-alphanumeric split breaks "l'avion" into [l, avion], and the
    * orphaned article drops here, which is exactly what Lucene's
    * ElisionFilter achieves before its tokenizer-preserved apostrophes. */
  private[graft] val FrenchStopWords = Set(
    "au", "aux", "avec", "ce", "ces", "dans", "de", "des", "du", "elle",
    "en", "et", "eux", "il", "ils", "je", "la", "le", "les", "leur",
    "lui", "ma", "mais", "me", "même", "mes", "moi", "mon", "ne", "nos",
    "notre", "nous", "on", "ou", "par", "pas", "pour", "qu", "que",
    "qui", "sa", "se", "ses", "son", "sur", "ta", "te", "tes", "toi",
    "ton", "tu", "un", "une", "vos", "votre", "vous", "c", "d", "j",
    "l", "à", "m", "n", "s", "t", "y", "été", "étée", "étées", "étés",
    "étant", "suis", "es", "est", "sommes", "êtes", "sont", "serai",
    "seras", "sera", "serons", "serez", "seront", "serais", "serait",
    "serions", "seriez", "seraient", "étais", "était", "étions",
    "étiez", "étaient", "fus", "fut", "fûmes", "fûtes", "furent",
    "sois", "soit", "soyons", "soyez", "soient", "fusse", "fusses",
    "fût", "fussions", "fussiez", "fussent", "ayant", "eu", "eue",
    "eues", "eus", "ai", "as", "avons", "avez", "ont", "aurai",
    "auras", "aura", "aurons", "aurez", "auront", "aurais", "aurait",
    "aurions", "auriez", "auraient", "avais", "avait", "avions",
    "aviez", "avaient", "eut", "eûmes", "eûtes", "eurent", "aie",
    "aies", "ait", "ayons", "ayez", "aient", "eusse", "eusses", "eût",
    "eussions", "eussiez", "eussent")

  /** Snowball German stop list (Lucene's german_stop.txt). */
  private[graft] val GermanStopWords = Set(
    "aber", "alle", "allem", "allen", "aller", "alles", "als", "also",
    "am", "an", "ander", "andere", "anderem", "anderen", "anderer",
    "anderes", "anderm", "andern", "anderr", "anders", "auch", "auf",
    "aus", "bei", "bin", "bis", "bist", "da", "damit", "dann", "der",
    "den", "des", "dem", "die", "das", "daß", "derselbe", "derselben",
    "denselben", "desselben", "demselben", "dieselbe", "dieselben",
    "dasselbe", "dazu", "dein", "deine", "deinem", "deinen", "deiner",
    "deines", "denn", "derer", "dessen", "dich", "dir", "du", "dies",
    "diese", "diesem", "diesen", "dieser", "dieses", "doch", "dort",
    "durch", "ein", "eine", "einem", "einen", "einer", "eines",
    "einig", "einige", "einigem", "einigen", "einiger", "einiges",
    "einmal", "er", "ihn", "ihm", "es", "etwas", "euer", "eure",
    "eurem", "euren", "eurer", "eures", "für", "gegen", "gewesen",
    "hab", "habe", "haben", "hat", "hatte", "hatten", "hier", "hin",
    "hinter", "ich", "mich", "mir", "ihr", "ihre", "ihrem", "ihren",
    "ihrer", "ihres", "euch", "im", "in", "indem", "ins", "ist",
    "jede", "jedem", "jeden", "jeder", "jedes", "jene", "jenem",
    "jenen", "jener", "jenes", "jetzt", "kann", "kein", "keine",
    "keinem", "keinen", "keiner", "keines", "können", "könnte",
    "machen", "man", "manche", "manchem", "manchen", "mancher",
    "manches", "mein", "meine", "meinem", "meinen", "meiner",
    "meines", "mit", "muss", "musste", "nach", "nicht", "nichts",
    "noch", "nun", "nur", "ob", "oder", "ohne", "sehr", "sein",
    "seine", "seinem", "seinen", "seiner", "seines", "selbst", "sich",
    "sie", "ihnen", "sind", "so", "solche", "solchem", "solchen",
    "solcher", "solches", "soll", "sollte", "sondern", "sonst",
    "über", "um", "und", "uns", "unse", "unsem", "unsen", "unser",
    "unses", "unter", "viel", "vom", "von", "vor", "während", "war",
    "waren", "warst", "was", "weg", "weil", "weiter", "welche",
    "welchem", "welchen", "welcher", "welches", "wenn", "werde",
    "werden", "wie", "wieder", "will", "wir", "wird", "wirst", "wo",
    "wollen", "wollte", "würde", "würden", "zu", "zum", "zur", "zwar",
    "zwischen")

  /** `lucene.french`-style analysis: lowercase, split on
    * non-alphanumeric runs (this breaks elisions at the apostrophe —
    * the orphaned article is a stop word), drop the Snowball French
    * stop set, Snowball-stem each token
    * ([[graft.functions.FrenchSnowball]], a native expression — one
    * static call per token inside codegen). */
  def frenchTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(FrenchStopWords.toSeq: _*)),
      t => graft.functions.SnowballFunctions.french_stem(t))

  /** Driver-side twin of [[frenchTokens]] — the SAME
    * [[graft.functions.FrenchSnowball.stem]] the column path calls. */
  def frenchTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !FrenchStopWords(t))
      .map(graft.functions.FrenchSnowball.stem).toSeq

  /** `lucene.german`-style analysis: lowercase, split on
    * non-alphanumeric runs, drop the Snowball German stop set,
    * Snowball-stem each token (ß→ss and umlaut folding happen inside
    * the stemmer's prelude/postlude, so "mögliche" and "moglich" meet
    * on the same index term). */
  def germanTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(GermanStopWords.toSeq: _*)),
      t => graft.functions.SnowballFunctions.german_stem(t))

  /** Driver-side twin of [[germanTokens]]. */
  def germanTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !GermanStopWords(t))
      .map(graft.functions.GermanSnowball.stem).toSeq

  /** Snowball Spanish stop list (Lucene's spanish_stop.txt — the
    * published Snowball list: function words plus the full estar /
    * haber / ser / tener conjugation tables). */
  private[graft] val SpanishStopWords = Set(
    "de", "la", "que", "el", "en", "y", "a", "los", "del", "se", "las",
    "por", "un", "para", "con", "no", "una", "su", "al", "lo", "como",
    "más", "pero", "sus", "le", "ya", "o", "este", "sí", "porque",
    "esta", "entre", "cuando", "muy", "sin", "sobre", "también", "me",
    "hasta", "hay", "donde", "quien", "desde", "todo", "nos",
    "durante", "todos", "uno", "les", "ni", "contra", "otros", "ese",
    "eso", "ante", "ellos", "e", "esto", "mí", "antes", "algunos",
    "qué", "unos", "yo", "otro", "otras", "otra", "él", "tanto",
    "esa", "estos", "mucho", "quienes", "nada", "muchos", "cual",
    "poco", "ella", "estar", "estas", "algunas", "algo", "nosotros",
    "mi", "mis", "tú", "te", "ti", "tu", "tus", "ellas", "nosotras",
    "vosotros", "vosotras", "os", "mío", "mía", "míos", "mías",
    "tuyo", "tuya", "tuyos", "tuyas", "suyo", "suya", "suyos",
    "suyas", "nuestro", "nuestra", "nuestros", "nuestras", "vuestro",
    "vuestra", "vuestros", "vuestras", "esos", "esas",
    // estar
    "estoy", "estás", "está", "estamos", "estáis", "están", "esté",
    "estés", "estemos", "estéis", "estén", "estaré", "estarás",
    "estará", "estaremos", "estaréis", "estarán", "estaría",
    "estarías", "estaríamos", "estaríais", "estarían", "estaba",
    "estabas", "estábamos", "estabais", "estaban", "estuve",
    "estuviste", "estuvo", "estuvimos", "estuvisteis", "estuvieron",
    "estuviera", "estuvieras", "estuviéramos", "estuvierais",
    "estuvieran", "estuviese", "estuvieses", "estuviésemos",
    "estuvieseis", "estuviesen", "estando", "estado", "estada",
    "estados", "estadas", "estad",
    // haber
    "he", "has", "ha", "hemos", "habéis", "han", "haya", "hayas",
    "hayamos", "hayáis", "hayan", "habré", "habrás", "habrá",
    "habremos", "habréis", "habrán", "habría", "habrías",
    "habríamos", "habríais", "habrían", "había", "habías",
    "habíamos", "habíais", "habían", "hube", "hubiste", "hubo",
    "hubimos", "hubisteis", "hubieron", "hubiera", "hubieras",
    "hubiéramos", "hubierais", "hubieran", "hubiese", "hubieses",
    "hubiésemos", "hubieseis", "hubiesen", "habiendo", "habido",
    "habida", "habidos", "habidas",
    // ser
    "soy", "eres", "es", "somos", "sois", "son", "sea", "seas",
    "seamos", "seáis", "sean", "seré", "serás", "será", "seremos",
    "seréis", "serán", "sería", "serías", "seríamos", "seríais",
    "serían", "era", "eras", "éramos", "erais", "eran", "fui",
    "fuiste", "fue", "fuimos", "fuisteis", "fueron", "fuera",
    "fueras", "fuéramos", "fuerais", "fueran", "fuese", "fueses",
    "fuésemos", "fueseis", "fuesen", "siendo", "sido",
    // tener
    "tengo", "tienes", "tiene", "tenemos", "tenéis", "tienen",
    "tenga", "tengas", "tengamos", "tengáis", "tengan", "tendré",
    "tendrás", "tendrá", "tendremos", "tendréis", "tendrán",
    "tendría", "tendrías", "tendríamos", "tendríais", "tendrían",
    "tenía", "tenías", "teníamos", "teníais", "tenían", "tuve",
    "tuviste", "tuvo", "tuvimos", "tuvisteis", "tuvieron", "tuviera",
    "tuvieras", "tuviéramos", "tuvierais", "tuvieran", "tuviese",
    "tuvieses", "tuviésemos", "tuvieseis", "tuviesen", "teniendo",
    "tenido", "tenida", "tenidos", "tenidas", "tened")

  /** Snowball Italian stop list (Lucene's italian_stop.txt). */
  private[graft] val ItalianStopWords = Set(
    "ad", "al", "allo", "ai", "agli", "all", "agl", "alla", "alle",
    "con", "col", "coi", "da", "dal", "dallo", "dai", "dagli", "dall",
    "dagl", "dalla", "dalle", "di", "del", "dello", "dei", "degli",
    "dell", "degl", "della", "delle", "in", "nel", "nello", "nei",
    "negli", "nell", "negl", "nella", "nelle", "su", "sul", "sullo",
    "sui", "sugli", "sull", "sugl", "sulla", "sulle", "per", "tra",
    "contro", "io", "tu", "lui", "lei", "noi", "voi", "loro", "mio",
    "mia", "miei", "mie", "tuo", "tua", "tuoi", "tue", "suo", "sua",
    "suoi", "sue", "nostro", "nostra", "nostri", "nostre", "vostro",
    "vostra", "vostri", "vostre", "mi", "ti", "ci", "vi", "lo", "la",
    "li", "le", "gli", "ne", "il", "un", "uno", "una", "ma", "ed",
    "se", "perché", "anche", "come", "dov", "dove", "che", "chi",
    "cui", "non", "più", "quale", "quanto", "quanti", "quanta",
    "quante", "quello", "quelli", "quella", "quelle", "questo",
    "questi", "questa", "queste", "si", "tutto", "tutti", "a", "c",
    "e", "i", "l", "o", "ho", "hai", "ha", "abbiamo", "avete",
    "hanno", "abbia", "abbiate", "abbiano", "avrò", "avrai", "avrà",
    "avremo", "avrete", "avranno", "avrei", "avresti", "avrebbe",
    "avremmo", "avreste", "avrebbero", "avevo", "avevi", "aveva",
    "avevamo", "avevate", "avevano", "ebbi", "avesti", "ebbe",
    "avemmo", "aveste", "ebbero", "avessi", "avesse", "avessimo",
    "avessero", "avendo", "avuto", "avuta", "avuti", "avute", "sono",
    "sei", "è", "siamo", "siete", "sia", "siate", "siano", "sarò",
    "sarai", "sarà", "saremo", "sarete", "saranno", "sarei",
    "saresti", "sarebbe", "saremmo", "sareste", "sarebbero", "ero",
    "eri", "era", "eravamo", "eravate", "erano", "fui", "fosti",
    "fu", "fummo", "foste", "furono", "fossi", "fosse", "fossimo",
    "fossero", "essendo", "faccio", "fai", "facciamo", "fanno",
    "faccia", "facciate", "facciano", "farò", "farai", "farà",
    "faremo", "farete", "faranno", "farei", "faresti", "farebbe",
    "faremmo", "fareste", "farebbero", "facevo", "facevi", "faceva",
    "facevamo", "facevate", "facevano", "feci", "facesti", "fece",
    "facemmo", "faceste", "fecero", "facessi", "facesse",
    "facessimo", "facessero", "facendo", "sto", "stai", "sta",
    "stiamo", "stanno", "stia", "stiate", "stiano", "starò",
    "starai", "starà", "staremo", "starete", "staranno", "starei",
    "staresti", "starebbe", "staremmo", "stareste", "starebbero",
    "stavo", "stavi", "stava", "stavamo", "stavate", "stavano",
    "stetti", "stesti", "stette", "stemmo", "steste", "stettero",
    "stessi", "stesse", "stessimo", "stessero", "stando")

  /** `lucene.spanish`-style analysis: lowercase, split on
    * non-alphanumeric runs, drop the Snowball Spanish stop set,
    * Snowball-stem each token ([[graft.functions.SpanishSnowball]], a
    * native expression — one static call per token inside codegen). */
  def spanishTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(SpanishStopWords.toSeq: _*)),
      t => graft.functions.SnowballRomanceFunctions.spanish_stem(t))

  /** Driver-side twin of [[spanishTokens]] — the SAME
    * [[graft.functions.SpanishSnowball.stem]] the column path calls. */
  def spanishTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !SpanishStopWords(t))
      .map(graft.functions.SpanishSnowball.stem).toSeq

  /** `lucene.italian`-style analysis: lowercase, split on
    * non-alphanumeric runs (elisions like "dell'acqua" break at the
    * apostrophe — the orphaned article is a stop word), drop the
    * Snowball Italian stop set, Snowball-stem each token. */
  def italianTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(ItalianStopWords.toSeq: _*)),
      t => graft.functions.SnowballRomanceFunctions.italian_stem(t))

  /** Driver-side twin of [[italianTokens]]. */
  def italianTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !ItalianStopWords(t))
      .map(graft.functions.ItalianSnowball.stem).toSeq

  /** Snowball Portuguese stop list (Lucene's portuguese_stop.txt —
    * function words plus the estar / haver / ser / ter conjugation
    * tables). */
  private[graft] val PortugueseStopWords = Set(
    "de", "a", "o", "que", "e", "do", "da", "em", "um", "para", "é",
    "com", "não", "uma", "os", "no", "se", "na", "por", "mais", "as",
    "dos", "como", "mas", "foi", "ao", "ele", "das", "tem", "à",
    "seu", "sua", "ou", "ser", "quando", "muito", "há", "nos", "já",
    "está", "eu", "também", "só", "pelo", "pela", "até", "isso",
    "ela", "entre", "era", "depois", "sem", "mesmo", "aos", "ter",
    "seus", "quem", "nas", "me", "esse", "eles", "estão", "você",
    "tinha", "foram", "essa", "num", "nem", "suas", "meu", "às",
    "minha", "têm", "numa", "pelos", "elas", "havia", "seja", "qual",
    "será", "nós", "tenho", "lhe", "deles", "essas", "esses",
    "pelas", "este", "fosse", "dele", "tu", "te", "vocês", "vos",
    "lhes", "meus", "minhas", "teu", "tua", "teus", "tuas", "nosso",
    "nossa", "nossos", "nossas", "dela", "delas", "esta", "estes",
    "estas", "aquele", "aquela", "aqueles", "aquelas", "isto",
    "aquilo",
    // estar
    "estou", "estamos", "estive", "esteve", "estivemos", "estiveram",
    "estava", "estávamos", "estavam", "estivera", "estivéramos",
    "esteja", "estejamos", "estejam", "estivesse", "estivéssemos",
    "estivessem", "estiver", "estivermos", "estiverem",
    // haver
    "hei", "havemos", "hão", "houve", "houvemos", "houveram",
    "houvera", "houvéramos", "haja", "hajamos", "hajam", "houvesse",
    "houvéssemos", "houvessem", "houver", "houvermos", "houverem",
    "houverei", "houverá", "houveremos", "houverão", "houveria",
    "houveríamos", "houveriam",
    // ser
    "sou", "somos", "são", "éramos", "eram", "fui", "fomos", "fora",
    "fôramos", "sejamos", "sejam", "fôssemos", "fossem", "for",
    "formos", "forem", "serei", "seremos", "serão", "seria",
    "seríamos", "seriam",
    // ter
    "temos", "tinham", "tínhamos", "tive", "teve", "tivemos",
    "tiveram", "tivera", "tivéramos", "tenha", "tenhamos", "tenham",
    "tivesse", "tivéssemos", "tivessem", "tiver", "tivermos",
    "tiverem", "terei", "terá", "teremos", "terão", "teria",
    "teríamos", "teriam")

  /** `lucene.portuguese`-style analysis: lowercase, split on
    * non-alphanumeric runs, drop the Snowball Portuguese stop set,
    * Snowball-stem each token. */
  def portugueseTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(PortugueseStopWords.toSeq: _*)),
      t => graft.functions.SnowballRomanceFunctions.portuguese_stem(t))

  /** Driver-side twin of [[portugueseTokens]]. */
  def portugueseTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !PortugueseStopWords(t))
      .map(graft.functions.PortugueseSnowball.stem).toSeq

  /** Snowball Dutch stop list (Lucene's dutch_stop.txt). */
  private[graft] val DutchStopWords = Set(
    "de", "en", "van", "ik", "te", "dat", "die", "in", "een", "hij",
    "het", "niet", "zijn", "is", "was", "op", "aan", "met", "als",
    "voor", "had", "er", "maar", "om", "hem", "dan", "zou", "of",
    "wat", "mijn", "men", "dit", "zo", "door", "over", "ze", "zich",
    "bij", "ook", "tot", "je", "mij", "uit", "der", "daar", "haar",
    "naar", "heb", "hoe", "heeft", "hebben", "deze", "u", "want",
    "nog", "zal", "me", "zij", "nu", "ge", "geen", "omdat", "iets",
    "worden", "toch", "al", "waren", "veel", "meer", "doen", "toen",
    "moet", "ben", "zonder", "kan", "hun", "dus", "alles", "onder",
    "ja", "eens", "hier", "wie", "werd", "altijd", "doch", "wordt",
    "wezen", "kunnen", "ons", "zelf", "tegen", "na", "reeds", "wil",
    "kon", "niets", "uw", "iemand", "geweest", "andere")

  /** `lucene.dutch`-style analysis: lowercase, split on non-alphanumeric
    * runs, drop the Snowball Dutch stop set, Snowball-stem each token
    * ([[graft.functions.DutchSnowball]], a native expression). */
  def dutchTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(DutchStopWords.toSeq: _*)),
      t => graft.functions.DutchStemFunctions.dutch_stem(t))

  /** Driver-side twin of [[dutchTokens]]. */
  def dutchTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !DutchStopWords(t))
      .map(graft.functions.DutchSnowball.stem).toSeq

  /** Snowball Swedish stop list (Lucene's swedish_stop.txt). */
  private[graft] val SwedishStopWords = Set(
    "och", "det", "att", "i", "en", "jag", "hon", "som", "han", "på",
    "den", "med", "var", "sig", "för", "så", "till", "är", "men",
    "ett", "om", "hade", "de", "av", "icke", "mig", "du", "henne",
    "då", "sin", "nu", "har", "inte", "hans", "honom", "skulle",
    "hennes", "där", "min", "man", "ej", "vid", "kunde", "något",
    "från", "ut", "när", "efter", "upp", "vi", "dem", "vara", "vad",
    "över", "än", "dig", "kan", "sina", "här", "ha", "mot", "alla",
    "under", "någon", "eller", "allt", "mycket", "sedan", "ju",
    "denna", "själv", "detta", "åt", "utan", "varit", "hur", "ingen",
    "mitt", "ni", "bli", "blev", "oss", "din", "dessa", "några",
    "deras", "blir", "mina", "samma", "vilken", "er", "sådan", "vår",
    "blivit", "dess", "inom", "mellan", "sådant", "varför", "varje",
    "vilka", "ditt", "vem", "vilket", "sitta", "sådana", "vart",
    "dina", "vars", "vårt", "våra", "ert", "era", "vilkas")

  /** `lucene.swedish`-style analysis: lowercase, split on
    * non-alphanumeric runs, drop the Snowball Swedish stop set,
    * Snowball-stem each token ([[graft.functions.SwedishSnowball]],
    * a native expression). */
  def swedishTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(SwedishStopWords.toSeq: _*)),
      t => graft.functions.ScandinavianStemFunctions.swedish_stem(t))

  /** Driver-side twin of [[swedishTokens]]. */
  def swedishTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !SwedishStopWords(t))
      .map(graft.functions.SwedishSnowball.stem).toSeq

  /** Snowball Danish stop list (Lucene's danish_stop.txt). */
  private[graft] val DanishStopWords = Set(
    "og", "i", "jeg", "det", "at", "en", "den", "til", "er", "som",
    "på", "de", "med", "han", "af", "for", "ikke", "der", "var",
    "mig", "sig", "men", "et", "har", "om", "vi", "min", "havde",
    "ham", "hun", "nu", "over", "da", "fra", "du", "ud", "sin",
    "dem", "os", "op", "man", "hans", "hvor", "eller", "hvad",
    "skal", "selv", "her", "alle", "vil", "blev", "kunne", "ind",
    "når", "være", "dog", "noget", "ville", "jo", "deres", "efter",
    "ned", "skulle", "denne", "end", "dette", "mit", "også", "under",
    "have", "dig", "anden", "hende", "mine", "alt", "meget", "sit",
    "sine", "vor", "mod", "disse", "hvis", "din", "nogle", "hos",
    "blive", "mange", "ad", "bliver", "hendes", "været", "thi",
    "jer", "sådan")

  /** `lucene.danish`-style analysis: lowercase, split on
    * non-alphanumeric runs, drop the Snowball Danish stop set,
    * Snowball-stem each token ([[graft.functions.DanishSnowball]],
    * a native expression). */
  def danishTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(DanishStopWords.toSeq: _*)),
      t => graft.functions.ScandinavianStemFunctions.danish_stem(t))

  /** Driver-side twin of [[danishTokens]]. */
  def danishTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !DanishStopWords(t))
      .map(graft.functions.DanishSnowball.stem).toSeq

  /** Snowball Norwegian stop list — the bokmål core of Lucene's
    * norwegian_stop.txt (the published file also carries nynorsk
    * variant forms like `ikkje`/`sjøl`; the core below covers the
    * bokmål function words — a documented transcription subset, not
    * the full file). */
  private[graft] val NorwegianStopWords = Set(
    "og", "i", "jeg", "det", "at", "en", "et", "den", "til", "er",
    "som", "på", "de", "med", "han", "av", "ikke", "der", "så",
    "var", "meg", "seg", "men", "ett", "har", "om", "vi", "min",
    "mitt", "ha", "hadde", "hun", "nå", "over", "da", "ved", "fra",
    "du", "ut", "sin", "dem", "oss", "opp", "man", "kan", "hans",
    "hvor", "eller", "hva", "skal", "selv", "her", "alle", "vil",
    "bli", "ble", "blitt", "kunne", "inn", "når", "være", "kom",
    "noen", "noe", "ville", "dere", "deres", "kun", "ja", "etter",
    "ned", "skulle", "denne", "for", "deg", "din", "ditt", "blir",
    "samme", "hvilken", "hvilke", "sånn", "inni", "mellom", "vår",
    "hver", "hvem", "vors", "hvis", "både", "bare", "enn", "fordi",
    "før", "mange", "også", "slik", "vært", "begge", "siden", "dette",
    "disse", "uten", "hvordan", "ingen", "hennes", "hoss", "under",
    "alt", "mye", "sitt", "sine", "mot", "å", "meget", "hvorfor",
    "henne", "ham")

  /** `lucene.norwegian`-style analysis: lowercase, split on
    * non-alphanumeric runs, drop the Norwegian stop set,
    * Snowball-stem each token ([[graft.functions.NorwegianSnowball]],
    * a native expression). */
  def norwegianTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(NorwegianStopWords.toSeq: _*)),
      t => graft.functions.ScandinavianStemFunctions.norwegian_stem(t))

  /** Driver-side twin of [[norwegianTokens]]. */
  def norwegianTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !NorwegianStopWords(t))
      .map(graft.functions.NorwegianSnowball.stem).toSeq

  /** `lucene.cjk`-style analysis: overlapping CJK character bigrams +
    * lowercased non-CJK words minus the English stop set — the whole
    * chain is ONE native expression call per row
    * ([[graft.functions.CjkTokenizer]] documents the published
    * CJKAnalyzer algorithm). */
  def cjkTokens(text: Column): Column =
    graft.functions.CjkFunctions.cjk_tokens(text)

  /** Driver-side twin of [[cjkTokens]] — the SAME static analyzer. */
  def cjkTerms(q: String): Seq[String] =
    graft.functions.CjkTokenizer.terms(q)

  /** Snowball Russian stop list (Lucene's russian_stop.txt). */
  private[graft] val RussianStopWords = Set(
    "и", "в", "во", "не", "что", "он", "на", "я", "с", "со", "как",
    "а", "то", "все", "она", "так", "его", "но", "да", "ты", "к",
    "у", "же", "вы", "за", "бы", "по", "только", "ее", "мне",
    "было", "вот", "от", "меня", "еще", "нет", "о", "из", "ему",
    "теперь", "когда", "даже", "ну", "вдруг", "ли", "если", "уже",
    "или", "ни", "быть", "был", "него", "до", "вас", "нибудь",
    "опять", "уж", "вам", "сказал", "ведь", "там", "потом", "себя",
    "ничего", "ей", "может", "они", "тут", "где", "есть", "надо",
    "ней", "для", "мы", "тебя", "их", "чем", "была", "сам", "чтоб",
    "без", "будто", "человек", "чего", "раз", "тоже", "себе",
    "под", "жизнь", "будет", "ж", "тогда", "кто", "этот", "говорил",
    "того", "потому", "этого", "какой", "совсем", "ним", "здесь",
    "этом", "один", "почти", "мой", "тем", "чтобы", "нее", "кажется",
    "сейчас", "были", "куда", "зачем", "сказать", "всех", "никогда",
    "сегодня", "можно", "при", "наконец", "два", "об", "другой",
    "хоть", "после", "над", "больше", "тот", "через", "эти", "нас",
    "про", "всего", "них", "какая", "много", "разве", "сказала",
    "три", "эту", "моя", "впрочем", "хорошо", "свою", "этой",
    "перед", "иногда", "лучше", "чуть", "том", "нельзя", "такой",
    "им", "более", "всегда", "конечно", "всю", "между")

  /** `lucene.russian`-style analysis: lowercase, split on
    * non-alphanumeric runs (Unicode `\p{L}` keeps Cyrillic words
    * whole), drop the Snowball Russian stop set, Snowball-stem each
    * token ([[graft.functions.RussianSnowball]], a native
    * expression — the stemmer's own prelude folds ё→е). */
  def russianTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(RussianStopWords.toSeq: _*)),
      t => graft.functions.RussianStemFunctions.russian_stem(t))

  /** Driver-side twin of [[russianTokens]]. */
  def russianTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !RussianStopWords(t))
      .map(graft.functions.RussianSnowball.stem).toSeq

  /** Lucene's published Turkish stop set (stopwords_tr.txt core). */
  private[graft] val TurkishStopWords = Set(
    "acaba", "ama", "aslında", "az", "bazı", "belki", "biri",
    "birkaç", "birşey", "biz", "bu", "çok", "çünkü", "da", "daha",
    "de", "defa", "diye", "eğer", "en", "gibi", "hem", "hep",
    "hepsi", "her", "hiç", "için", "ile", "ise", "kez", "ki", "kim",
    "mı", "mu", "mü", "nasıl", "ne", "neden", "nerde", "nerede",
    "nereye", "niçin", "niye", "o", "sanki", "şey", "siz", "şu",
    "tüm", "ve", "veya", "ya", "yani", "bir")

  /** `lucene.turkish`-style analysis: the TURKISH case fold first
    * (İ→i, I→ı — the tailored `tr` collation applies the identical
    * fold, [[graft.query.Collation.Tailorings]]), then lowercase,
    * split on non-alphanumeric runs, drop the Turkish stop set,
    * Snowball-stem each token ([[graft.functions.TurkishSnowball]],
    * a native expression). */
  def turkishTokens(text: Column): Column =
    transform(
      filter(
        split(lower(translate(text, "Iİ", "ıi")), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(TurkishStopWords.toSeq: _*)),
      t => graft.functions.TurkishStemFunctions.turkish_stem(t))

  /** Driver-side twin of [[turkishTokens]]. */
  def turkishTerms(q: String): Seq[String] =
    q.replace('I', 'ı').replace('İ', 'i')
      .toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !TurkishStopWords(t))
      .map(graft.functions.TurkishSnowball.stem).toSeq

  /** Lucene's published Czech stop set (czech_stop.txt core). */
  private[graft] val CzechStopWords = Set(
    "a", "aby", "ale", "ani", "ano", "až", "bez", "bude", "by",
    "byl", "byla", "byli", "bylo", "být", "co", "či", "do", "ho",
    "i", "já", "jak", "jako", "je", "jeho", "jej", "její", "jejich",
    "jen", "ještě", "ji", "již", "jsem", "jsme", "jsou", "jsi", "k",
    "kam", "kde", "kdo", "když", "ke", "která", "které", "který",
    "kteří", "má", "mezi", "mi", "mít", "můj", "může", "my", "na",
    "nad", "nám", "ne", "nebo", "není", "nás", "náš", "než", "nic",
    "nich", "ním", "o", "od", "ode", "on", "ona", "oni", "ono",
    "pak", "po", "pod", "podle", "pokud", "pouze", "pro", "proč",
    "proto", "protože", "před", "přes", "při", "s", "se", "si",
    "své", "svůj", "ta", "tak", "také", "takže", "tato", "tedy",
    "ten", "tento", "tím", "to", "toho", "tom", "tomto", "toto",
    "tu", "ty", "tyto", "u", "už", "v", "vám", "více", "však",
    "vy", "z", "za", "zde", "že")

  /** `lucene.czech`-style analysis: lowercase, split on
    * non-alphanumeric runs, drop the Czech stop set, light-stem each
    * token ([[graft.functions.CzechStem]], a native expression —
    * Czech has no Snowball algorithm, so the published Dolamic &
    * Savoy light stemmer is the algorithmic option, the same one
    * Lucene ships). */
  def czechTokens(text: Column): Column =
    transform(
      filter(
        split(lower(text), "[^\\p{L}\\p{N}]+"),
        t => t =!= lit("") && !t.isin(CzechStopWords.toSeq: _*)),
      t => graft.functions.CzechStemFunctions.czech_stem(t))

  /** Driver-side twin of [[czechTokens]]. */
  def czechTerms(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+")
      .filter(t => t.nonEmpty && !CzechStopWords(t))
      .map(graft.functions.CzechStem.stem).toSeq

  /** Language analyzers by `lucene.*` name: (document-token column
    * chain, driver-side query-term twin). The ONE registry every
    * dispatch site consults — `$search` text/phrase legs and `$text
    * $language` all resolve here, so adding a language is one entry
    * instead of five parallel match arms drifting apart.
    * (whitespace/standard/keyword stay per-site: their document and
    * query forms differ by call shape, not by language.) */
  private[graft] val LanguageAnalyzers
      : Map[String, (Column => Column, String => Seq[String])] = Map(
    "lucene.english" -> ((englishTokens _, englishTerms _)),
    "lucene.french" -> ((frenchTokens _, frenchTerms _)),
    "lucene.german" -> ((germanTokens _, germanTerms _)),
    "lucene.spanish" -> ((spanishTokens _, spanishTerms _)),
    "lucene.italian" -> ((italianTokens _, italianTerms _)),
    "lucene.portuguese" -> ((portugueseTokens _, portugueseTerms _)),
    "lucene.dutch" -> ((dutchTokens _, dutchTerms _)),
    "lucene.swedish" -> ((swedishTokens _, swedishTerms _)),
    "lucene.danish" -> ((danishTokens _, danishTerms _)),
    "lucene.norwegian" -> ((norwegianTokens _, norwegianTerms _)),
    "lucene.russian" -> ((russianTokens _, russianTerms _)),
    "lucene.turkish" -> ((turkishTokens _, turkishTerms _)),
    "lucene.czech" -> ((czechTokens _, czechTerms _)),
    "lucene.cjk" -> ((cjkTokens _, cjkTerms _)))

  /** In-order sloppy phrase occurrences: the number of start positions in
    * `toks` from which every term of the phrase matches in sequence with
    * TOTAL inter-term gap ≤ `slop` (Lucene's in-order sloppy-phrase
    * reading — slop 0 is exact adjacency). Pure scan-local array algebra:
    * nested `exists` over gap windows, O(tokens·(slop+1)^(terms−1)) per
    * document with compile-time-known terms, no shuffle and no UDF. */
  def phraseOccurrences(toks: Column, terms: Seq[String],
      slop: Int): Column = {
    require(terms.nonEmpty, "phraseOccurrences: no terms")
    require(slop >= 0, s"phraseOccurrences: slop must be >= 0, got $slop")
    val m = terms.length
    // Let-bind the token array ONCE per row (one-element transform):
    // the nested lambdas below index it at every candidate position, and
    // callers pass an inline `tokens(col)`/`standardTokens(col)`
    // EXPRESSION — without the binding each position re-runs the whole
    // tokenization, the O(len²)-per-row trap [[shinglesOfTokens]]
    // documents (measured: q138/q147 4×/3× slower).
    element_at(transform(array(toks), tk => {
      val n = size(tk)
      // term k must match at some j in (prev, prev+1+slop−used], bounded
      // by the array end; the `j <= hi` guard runs BEFORE element_at so
      // the conjunction short-circuits inside the clamped-but-padded
      // sequence (ANSI mode: element_at past the end would throw)
      def rest(k: Int, prev: Column, used: Column): Column =
        if (k == m) lit(true)
        else {
          val hi = least(prev + (lit(slop) - used) + 1, n)
          exists(sequence(prev + 1, greatest(prev + 1, hi)),
            j => j <= hi && element_at(tk, j) === lit(terms(k)) &&
              rest(k + 1, j, used + (j - prev - 1)))
        }
      when(n >= m, size(filter(sequence(lit(1), n),
        i => element_at(tk, i) === lit(terms.head) &&
          rest(1, i, lit(0))))).otherwise(lit(0))
    }), 1)
  }

  /** Sequential prefix-phrase hit (Atlas autocomplete tokenOrder:
    * "sequential"): some start position matches every query term as a
    * PREFIX of consecutive document tokens — the edgeGram reading, where
    * a query token matches a doc token it prefixes. Token array is
    * let-bound once per row (see [[phraseOccurrences]]). */
  def prefixPhraseHit(toks: Column, terms: Seq[String]): Column =
    prefixPhraseHitWith(toks, terms, (x, t) => x.startsWith(lit(t)))

  /** [[prefixPhraseHit]] with a pluggable per-(token, term) predicate —
    * the fuzzy autocomplete path swaps the exact `startsWith` for
    * [[fuzzyPrefixHit]] while keeping the same adjacency scan. */
  def prefixPhraseHitWith(toks: Column, terms: Seq[String],
      hit: (Column, String) => Column): Column = {
    require(terms.nonEmpty, "prefixPhraseHit: no terms")
    val m = terms.length
    element_at(transform(array(toks), tk => {
      val n = size(tk)
      when(n >= m, exists(sequence(lit(1), greatest(lit(1), n - (m - 1))),
        i => (n - i >= m - 1) && terms.zipWithIndex.map { case (t, k) =>
          hit(element_at(tk, i + k), t)
        }.reduce(_ && _))).otherwise(lit(false))
    }), 1)
  }

  /** Atlas autocomplete `fuzzy`: a document token hits a query term when
    * some PREFIX of the token — the edgeGram a Lucene autocomplete index
    * would hold; any gram length within `maxEdits` of the term's length
    * can be within distance — is within `maxEdits` edit distance of the
    * term, with the first `prefixLength` characters pinned exact
    * (FuzzyQuery's prefix pin). Scan-fused scalar algebra: at most
    * 2·maxEdits+1 thresholded `levenshtein` calls per (token, term)
    * pair, each early-exiting at maxEdits — no term-expansion join. */
  def fuzzyPrefixHit(x: Column, term: String, maxEdits: Int,
      prefixLength: Int = 0): Column = {
    // FuzzyQuery caps the pin at the term length: prefixLength beyond it
    // pins the WHOLE term exactly (edits can only apply past it), it
    // does not demand a longer-than-term exact prefix — without the cap
    // every token would silently fail the pin comparison
    val pin = math.min(prefixLength, term.length)
    val lens = ((term.length - maxEdits) to (term.length + maxEdits))
      .filter(_ >= math.max(1, pin))
    val nearPrefix = lens.map(l =>
      levenshtein(substring(x, 1, l), lit(term), maxEdits) =!= -1)
      .reduce(_ || _)
    if (pin > 0)
      substring(x, 1, pin) === lit(term.take(pin)) && nearPrefix
    else nearPrefix
  }

  /** Unigram (token) entropy of a document in nats: −Σ p·ln p over the
    * within-document token distribution — the standard low-entropy
    * screen for repetitive/spam text (complements the repetition and
    * Gopher flags). Pure scan algebra: sort the token array once
    * (let-bound — the HOF capture trap would otherwise re-sort per
    * element), find run starts, fold run lengths. Each term quantizes
    * to MICRO-nats and sums as LONGS (the repo's cents pattern), so
    * the sum is partitioning-invariant, and the coarse 1e-6 quantum
    * leaves ~9 orders of headroom over any cross-engine ln() ulp
    * difference (integer quantization fixes summation ORDER exactly;
    * transcendental rounding it can only absorb, so the quantum must
    * dwarf it — at 1e-9 a libm-vs-JVM ulp at a floor boundary could
    * still flip a digit). Empty text scores 0. */
  def tokenEntropy(text: Column): Column = {
    val toks = tokens(text)
    val ent = element_at(transform(array(array_sort(toks)), srt =>
      element_at(transform(array(filter(
          sequence(lit(1), size(srt)), i =>
            i === lit(1) || element_at(srt, i.cast("int")) =!=
              element_at(srt, i.cast("int") - 1))), starts => {
        val n = size(srt).cast("double")
        val nexts = concat(
          slice(starts, lit(2), greatest(lit(0), size(starts) - 1)),
          array((size(srt) + 1).cast("int")))
        aggregate(
          zip_with(starts, nexts, (s, nx) => (nx - s).cast("double")),
          lit(0L), (acc, c) =>
            acc + floor((c / n) * log(c / n) * 1e6 + 0.5).cast("long"))
          .cast("double") / -1e6
      }), 1)), 1)
    when(size(toks) > 0, ent).otherwise(lit(0.0))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alpha runs, digit runs, single punctuation. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** http(s) URLs in the text — scan-fused regex, no explode until the
    * caller asks for one. */
  def urls(text: Column): Column =
    regexp_extract_all(text, lit("https?://[^\\s]+"), lit(0))

  /** Host part of every http(s) URL — the per-domain key that web-corpus
    * curation aggregates on (domain quality lists, per-domain caps). */
  def urlDomains(text: Column): Column =
    regexp_extract_all(text, lit("https?://([^/\\s]+)"), lit(1))

  /** Query params [[normalizeUrl]] strips by default: analytics
    * trackers (utm_*, fbclid, gclid) and unambiguous session tokens
    * (jsessionid, phpsessid) — both vary per visit without changing
    * the resource. `ref` and `sid` are deliberately NOT on the list:
    * both are genuine resource identifiers on many sites (VCS hosts
    * use ?ref=branch; forums/news sites use ?sid=story-id), so
    * stripping them collides genuinely DISTINCT resources — the
    * false-collision failure a dedup key must never have. Callers
    * whose corpus uses `sid` as a session token can pass a custom
    * list with it added. Entries are lookaround-free regex alternates
    * matched case-insensitively against the param NAME.
    *
    * CANONICALIZATION KEY VERSIONING: this list (and the
    * [[normalizeUrl]] chain) define the dedup KEY — any change to
    * either changes the keys a store persists. v1 (≤ r12) kept param
    * order and stripped no session ids; v2 (r13) sorted params and
    * stripped jsessionid/phpsessid/sid; v3 (r14, current) keeps `sid`.
    * A persisted canonical-URL dedup store keyed with an older chain
    * stops matching after an upgrade and MUST be rebuilt (re-key the
    * stored URLs once) — README "Release notes" carries the same
    * warning. */
  val DefaultTrackingParams: Seq[String] =
    Seq("utm_[a-z0-9_]+", "fbclid", "gclid",
      "jsessionid", "phpsessid")

  /** Canonical URL for dedup keying — the crawl-pipeline
    * normalization that makes trivially-distinct spellings of the same
    * resource collide: strip the #fragment, drop tracking/session
    * params ([[DefaultTrackingParams]]) with separator repair, SORT
    * the surviving query params (param-order spellings of one
    * resource are endemic in real crawls), lowercase the
    * scheme+authority (path/query case is significant and kept), drop
    * default ports (:80 http, :443 https), drop a leading www., strip
    * trailing path slashes. Pure regexp/array algebra — scan-fused,
    * codegen'd, no UDF — and every regex avoids lookaround so the
    * DuckDB oracle (RE2) can run the identical chain. */
  def normalizeUrl(url: Column,
      trackingParams: Seq[String] = DefaultTrackingParams): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    // split at the FIRST '?': '&'/'=' are legal in paths, so the
    // tracking-param strip and separator repair run on the query
    // string only — a path like /a&ref=x/page is untouched
    val path0 = regexp_extract(noFrag, "^([^?]*)", 1)
    val query0 = regexp_replace(noFrag, "^[^?]*", "")
    val stripped = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(query0,
        s"([?&])(?i:${trackingParams.mkString("|")})=[^&]*", "$1"),
      "&&+", "&"), "^\\?&", "?"), "[?&]$", "")
    // sort the surviving params: ?b=2&a=1 and ?a=1&b=2 are one key.
    // Binary (codepoint) sort order — identical in Spark array_sort
    // and DuckDB list_sort for the ASCII param strings of real URLs.
    val qBody = regexp_replace(stripped, "^\\?", "")
    val query = when(qBody === "", lit(""))
      .otherwise(concat(lit("?"),
        concat_ws("&", array_sort(split(qBody, "&")))))
    // scheme+authority fold; trailing path slashes drop at the PATH
    // end (the path is path0's tail, so "/+$" on path0 is exact)
    val path1 = regexp_replace(path0, "/+$", "")
    val lowered = concat(
      lower(regexp_extract(path1,
        "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
      regexp_replace(path1, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""))
    // default ports: [^/?#]* (colons allowed) keeps userinfo
    // authorities (user:pw@host:443) strippable
    val noPort = regexp_replace(regexp_replace(lowered,
      "^(http://[^/?#]*):80([/?#]|$)", "$1$2"),
      "^(https://[^/?#]*):443([/?#]|$)", "$1$2")
    val noWww = regexp_replace(noPort, "^(https?://)www\\.", "$1")
    concat(noWww, query)
  }

  /** WITHIN-document repeated-line removal — the intra-doc complement
    * of [[graft.ops.Dedup.removeBoilerplateLines]] (cross-corpus) and
    * [[graft.ops.Dedup.paragraphDedup]] (cross-corpus paragraphs):
    * each non-empty line keeps its FIRST occurrence inside the
    * document and later repeats drop (scraped nav menus and headers
    * repeated per page, chat-log echoes). EMPTY lines always survive
    * — collapsing blank separators would rewrite formatting, not
    * remove noise. ZERO shuffle: pure scan-local array algebra
    * (let-bound split, index-aware filter against the line's prefix —
    * O(L²) per doc in LINE count, fine at real document sizes),
    * codegen'd.  Spark filter indices are 0-based, so `slice(ls, 1,
    * i)` is exactly the prefix before the current line. */
  def dedupLinesInDoc(text: Column, delim: String = "\n"): Column = {
    val q = java.util.regex.Pattern.quote(delim)
    element_at(transform(array(split(text, q)), ls =>
      array_join(filter(ls, (x, i) =>
        x === lit("") || !exists(slice(ls, lit(1), i), y => y === x)),
        delim)), 1)
  }

  /** WET-style HTML → text extraction, the step between a raw crawl
    * and every text operator here: drop <script>/<style> blocks and
    * comments (non-greedy, case-insensitive), strip remaining tags,
    * decode the six common entities (&amp; LAST so "&amp;lt;" decodes
    * to the literal "&lt;", not "<"), collapse whitespace runs, trim.
    * Pure regexp chain — scan-fused, codegen'd, and lookaround-free
    * ((?is) flags + non-greedy are RE2-supported) so the DuckDB
    * oracle replays the identical chain. */
  def stripHtml(html: Column): Column = {
    val noScript =
      regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Deterministic 60-bit hash of a string: first 15 hex digits of md5.
    * Reproducible in any engine with md5 (DuckDB: ('0x'||substr(md5(s),1,
    * 15))::BIGINT). One native expression ([[graft.functions.Md5Prefix60]])
    * that reads the value off the digest bytes — no hex string, substring
    * or radix conversion per call. */
  def hash60(c: Column): Column = native(c)(Md5Prefix60(_))

  /** hash60 reduced mod 2^31-1 (keeps products inside 64-bit range). */
  def tokenHash(c: Column): Column = hash60(c) % HashMod

  /** Word k-shingles over an ALREADY-TOKENIZED array column. Pass a real
    * column reference (stage `tokens(...)` with `withColumn` first): the
    * `transform` lambda references `toks` once per window, so an inline
    * non-trivial expression here would re-evaluate per shingle position —
    * the O(len²)-per-row trap [[shingles]] documents. */
  def shinglesOfTokens(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Word k-shingles: overlapping windows of k tokens joined by space.
    * Empty when the document has fewer than k tokens.
    *
    * PERF: higher-order lambdas re-evaluate captured expressions per
    * element, so this convenience form re-tokenizes `text` once per
    * shingle position (~len× too much work). Hot paths must stage the
    * token array into a column and call [[shinglesOfTokens]] — Dedup's
    * operators do. */
  def shingles(text: Column, k: Int): Column =
    shinglesOfTokens(tokens(text), k)

  // ---- language ID (stopword-marker heuristic) ----

  /** Marker function words per language; deterministic tie-break order is
    * the Seq order (first wins on >=). Covers every locale the engine
    * analyzes or collates (public stop-word lists, 8 high-frequency
    * function words each), so `Curation.curate(targetLang = …)` can
    * gate any of them. Closely-related pairs lean on their classic
    * discriminators (da "af"/"hvad" vs no "av"/"hva"); shared words
    * (og, ikke, na …) are fine — the SCORE comparison decides, and
    * exact ties resolve to the earlier entry. Tokens are matched
    * exactly (lowercase, space-split — [[tokens]]), no case folding. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "les", "et", "des", "un", "une", "est", "dans"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"),
    "it" -> Seq("il", "di", "che", "non", "per", "una", "sono", "anche"),
    "pt" -> Seq("não", "uma", "são", "mais", "como", "dos", "pela",
      "também"),
    "nl" -> Seq("het", "een", "van", "niet", "dat", "voor", "zijn",
      "maar"),
    "sv" -> Seq("och", "att", "som", "är", "för", "med", "inte", "på"),
    "da" -> Seq("og", "af", "det", "til", "ikke", "hvad", "også",
      "være"),
    "no" -> Seq("og", "av", "det", "på", "ikke", "hva", "fra", "eller"),
    "ru" -> Seq("и", "не", "на", "что", "это", "как", "его", "для"),
    "tr" -> Seq("bir", "ve", "bu", "için", "ile", "olarak", "daha",
      "çok"),
    "cs" -> Seq("je", "se", "na", "že", "ale", "jsem", "jako", "pro"),
    "pl" -> Seq("nie", "się", "jest", "że", "do", "jak", "ale",
      "przez"))

  /** The [[LangMarkers]] groups as the marker table of the native
    * language kernels. */
  private lazy val LangTable =
    MarkerTable(LangMarkers.map(_._1), LangMarkers.map(_._2))

  /** Count of tokens of `text` that appear in `markers`. */
  def markerScore(text: Column, markers: Seq[String]): Column =
    native(text)(MarkerScore(_, MarkerTable(Seq("markers"), Seq(markers))))

  /** Predicted language code, "und" when no marker hits at all (a null
    * text included). Tie-break: LangMarkers order (the first language
    * with a maximal score).
    *
    * PERF: one native expression ([[graft.functions.LangId]]) — a single
    * pass over the text's bytes that looks each token up once in a table
    * of all 15 languages' markers. The Column form it replaced evaluated
    * 15 `filter`/`isin` lambdas per row, each comparing every token to a
    * language's markers. */
  def langId(text: Column): Column = native(text)(LangId(_, LangTable))

  /** Language-ID CONFIDENCE margin: best marker score minus
    * second-best (0 on an exact tie, and 0 when nothing matches) —
    * the gate real curation stacks put next to the label, since a
    * da/no-style doc scoring 5/4 is a coin-flip the label alone
    * hides. Same one-pass native kernel as [[langId]]. */
  def langIdMargin(text: Column): Column =
    native(text)(LangIdMargin(_, LangTable))

  // ---- quality scoring ----

  /** Common-English stopwords used for the stopword-ratio feature. */
  val Stopwords: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is",
    "it", "for", "on", "with", "as", "at", "by", "an", "be", "or")

  /** Heuristic quality components, all deterministic:
    * n_chars, n_tokens, punct count, stopword hits, alpha chars. */
  def qualityComponents(text: Column): Seq[(String, Column)] = Seq(
    "n_chars" -> length(text).cast("long"),
    "n_tokens" -> tokenCount(text).cast("long"),
    "n_punct" -> length(regexp_replace(text, "[^.!?,;:]", "")).cast("long"),
    "n_stopword" -> markerScore(text, Stopwords).cast("long"),
    "n_alpha" -> length(regexp_replace(text, "[^A-Za-z]", "")).cast("long"))

  /** Scalar quality score in [0,1]-ish from [[qualityComponents]]:
    * 0.4·stopword ratio + 0.4·ASCII-letter ratio + 0.2·min(tokens/100,
    * 1), in fixed-order double arithmetic (reproducible bit-for-bit
    * across engines). One native pass over the text
    * ([[graft.functions.QualityScore]]). */
  def qualityScore(text: Column): Column =
    native(text)(QualityScore(_, StopTable))

  private lazy val StopTable = MarkerTable(Seq("stopwords"), Seq(Stopwords))

  /** Positional rolling-hash document fingerprint:
    * sum_i ((tokenHash(t_i) * i) % M) % M with 1-based positions — an
    * order-sensitive content hash (anagram texts get different prints,
    * unlike a bag-of-words hash). One explode + one aggregate. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    exploded
      .groupBy(idCol)
      .agg((sum(tokenHash(col("tok")) * (col("pos") + 1) % HashMod) % HashMod)
        .as("fingerprint"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 adapted to
    * deterministic integer math): per document,
    *
    *  - `dup_line_frac`: line occurrences beyond the first of each
    *    distinct line, over total lines;
    *  - `dup_line_char_frac`: the same, weighted by line characters;
    *  - `top_2gram_char_frac`: characters covered by the single most
    *    repeated word 2-gram (count x gram length, ties resolved by the
    *    max product — deterministic without an argmax tie-break), over
    *    total characters.
    *
    * The line signals are pure array expressions fused into the scan; the
    * 2-gram signal is one explode + two aggregations keyed by doc — a
    * single shuffle, linear in corpus tokens. All ratios divide exact
    * integer-valued doubles, so results hash-match any engine computing
    * the same counts. */
  def repetitionSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val reserved = Seq("__chars", "__toks", "__g", "__cnt", "__cover")
    require(!df.columns.exists(reserved.contains),
      s"repetitionSignals: input must not contain ${reserved.mkString(",")}")
    val t = col(textCol)
    val lines = split(t, "\n")
    val dl = array_distinct(lines)
    val nl = size(lines).cast("double")
    val lineChars =
      aggregate(lines, lit(0L), (a, x) => a + length(x)).cast("double")
    val dChars = aggregate(dl, lit(0L), (a, x) => a + length(x)).cast("double")
    val base = df.select(col(idCol),
      length(t).cast("double").as("__chars"),
      when(nl > 0, (nl - size(dl).cast("double")) / nl)
        .otherwise(lit(0.0)).as("dup_line_frac"),
      when(lineChars > 0, (lineChars - dChars) / lineChars)
        .otherwise(lit(0.0)).as("dup_line_char_frac"))
    val grams = df.select(col(idCol), tokens(t).as("__toks"))
      .select(col(idCol), explode(shinglesOfTokens(col("__toks"), 2)).as("__g"))
    val top = grams.groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      .agg(max(col("__cnt") * length(col("__g")).cast("long")).as("__cover"))
    base.join(top, Seq(idCol), "left_outer")
      .select(col(idCol), col("dup_line_frac"), col("dup_line_char_frac"),
        when(col("__chars") > 0,
          coalesce(col("__cover").cast("double"), lit(0.0)) / col("__chars"))
          .otherwise(lit(0.0)).as("top_2gram_char_frac"))
  }

  /** Gopher-style document-quality filter rules (Rae et al. 2021, the
    * published heuristics adapted to space-tokenized text): word-count
    * bounds, mean-word-length bounds, alphabetic-word ratio, distinct
    * stopword presence. Pure Column expressions — the whole rule set is one
    * scan-fused projection, so filtering 100 TB costs one pass. */
  def gopherQualityFlags(text: Column): Seq[(String, Column)] = {
    val t = tokens(text)
    val nWords = size(t).cast("long")
    val meanLen = when(nWords > 0,
      aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        nWords).otherwise(lit(0.0))
    val alphaRatio = when(nWords > 0,
      size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") / nWords)
      .otherwise(lit(0.0))
    val stopHits = size(array_intersect(t,
      typedlit(Stopwords))).cast("long")
    Seq(
      "flag_word_count" -> (nWords >= 50 && nWords <= 100000),
      "flag_mean_word_len" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "flag_alpha_ratio" -> (alphaRatio > 0.8),
      "flag_stopwords" -> (stopHits >= 2))
  }

  /** Conjunction of all [[gopherQualityFlags]] — the keep/drop decision. */
  def gopherKeep(text: Column): Column =
    gopherQualityFlags(text).map(_._2).reduce(_ && _)

  /** Vocabulary pruning (word2vec-style min-count preprocessing): rebuild
    * each document keeping only tokens whose GLOBAL corpus frequency is at
    * least `minCount`, preserving token order. Plan: one posexplode, one
    * token-frequency aggregate (partial combine), one shuffle join on the
    * 31-bit token hash, one per-doc ordered reassembly — the vocabulary
    * table is shuffle-joined (never collected), so an arbitrarily large
    * vocab scales. Documents whose every token is rare survive with empty
    * text (LEFT join on the doc id set). */
  def pruneRareTokens(df: DataFrame, idCol: String, textCol: String,
      minCount: Long): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("th", tokenHash(col("tok")))
    val freq = toks.groupBy("th").agg(count(lit(1)).as("freq"))
    val kept = toks
      .join(freq.where(col("freq") >= minCount), "th")
      .groupBy(idCol)
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        e => e.getField("tok"))).as("pruned"))
    df.select(col(idCol))
      .join(kept, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("pruned"), lit("")).as("pruned"))
  }

  /** SimHash fingerprint over whitespace tokens, `bits` wide (≤ 60 — the
    * full width of the md5-derived [[hash60]] token hash, so wide
    * fingerprints feed wide chunk keys in the near-dup band join).
    * Per (doc, bit) the signed token votes are summed; the fingerprint sets
    * bit j when the vote is positive. Two explodes + two aggregations, all
    * integer math. */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16)
      : DataFrame = {
    require(bits > 0 && bits <= 60, "simhash bits must be in 1..60")
    val toks = df.select(col(idCol),
      explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", hash60(col("tok")) % (1L << bits))
    // one vote aggregate per bit as COLUMNS, not an exploded (token, bit)
    // row per bit: the shuffle carries |docs| rows of `bits` longs with
    // map-side partial aggregation, instead of |tokens|·bits rows
    val voteCols = (0 until bits).map { j =>
      sum(when(expr(s"shiftright(h, $j) & 1") === 1, 1).otherwise(-1))
        .as(s"__v$j")
    }
    toks.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
      .select(col(idCol),
        (0 until bits).map(j =>
          when(col(s"__v$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }
}
