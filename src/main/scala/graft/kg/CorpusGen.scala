package graft.kg

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic, seeded synthesis of the KG-pipeline inputs (no external
  * data, per BASELINE.json input_hint). Every row is a pure function of
  * (seed, scale, row index) via a splitmix64 hash, so ANY partitioning or
  * parallelism yields byte-identical tables — a precondition for the
  * checkpoint-resume and two-parallelism scaling tests.
  *
  * World model (reference analogues in parentheses):
  *   - `entities`  — KB side (DBpediaResource: names, labels, kind, dead).
  *   - `accounts`  — alignment targets (twitter4j User: screen_name, name,
  *                   description, follower counts, verified).
  *   - `repos`     — the corpus (tweet stream): file contents carry
  *                   structured author/mention annotations that attach
  *                   display names to screen names, the way tweets attach
  *                   names to uids (BuildUserIndex.java:221-269).
  *   - `gold`      — true alignments (gold.csv, Dataset.java:61-78).
  *
  * Planted edge cases (FIXTURES.md §A.6): entities with zero candidates,
  * dead entities, a celebrity account + mega-repo (skew), name ties and
  * near-miss decoys, "Last, First" variants, short names, topic suffixes.
  */
object CorpusGen {

  final case class Scale(
      name: String,
      nEntities: Int,
      nNoiseAccounts: Int,
      nFiles: Int,
      nRepos: Int,
      celebPct: Int = 8) // % of mentions hitting celebrity account 0 (skew knob)

  val Tiny: Scale = Scale("tiny", 60, 30, 400, 12)
  val Small: Scale = Scale("small", 1500, 800, 12000, 60)
  val Bench: Scale = Scale("bench", 8000, 4000, 120000, 200)
  /** Bench scale with entities/accounts growing with the corpus (at 10^12
    * files the KB side grows too — keeps every pipeline stage scaling).
    */
  def benchAt(files: Int): Scale = {
    val entities = math.max(8000, files / 20)
    Scale(s"bench$files", entities, entities / 2, files, math.max(200, entities / 40))
  }

  val Seed: Long = 42L

  // ---------------------------------------------------------------- hashing

  /** splitmix64 — the standard public-domain mixer; pure + fast. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def h(stream: Long, i: Long): Long = mix(mix(Seed ^ stream) ^ i)
  /** Uniform int in [0, n). */
  def pick(stream: Long, i: Long, n: Int): Int = {
    val v = h(stream, i) >>> 11
    (v % n.toLong).toInt
  }
  /** Uniform double in [0, 1). */
  def unit(stream: Long, i: Long): Double =
    (h(stream, i) >>> 11).toDouble / (1L << 53).toDouble

  // ---------------------------------------------------------------- pools

  private val firstNames = Vector(
    "Ada", "Alan", "Barbara", "Brian", "Claude", "Dana", "Dennis", "Donald",
    "Edsger", "Frances", "Grace", "Hedy", "Ivan", "John", "Karen", "Ken",
    "Leslie", "Linus", "Margaret", "Marvin", "Niklaus", "Peter", "Radia",
    "Richard", "Robert", "Rosalind", "Seymour", "Shafi", "Sophie", "Tim",
    "Tony", "Vint", "Whitfield", "Yukihiro", "Barbara2", "Evelyn", "Kathleen",
    "Mary", "Noam", "Olga")

  private val lastNames = Vector(
    "Lovelace", "Turing", "Liskov", "Kernighan", "Shannon", "Scott",
    "Ritchie", "Knuth", "Dijkstra", "Allen", "Hopper", "Lamarr",
    "Sutherland", "McCarthy", "Jones", "Thompson", "Lamport", "Torvalds",
    "Hamilton", "Minsky", "Wirth", "Naur", "Perlman", "Stallman", "Floyd",
    "Franklin", "Cray", "Goldwasser", "Wilson", "Lee", "Hoare", "Cerf",
    "Diffie", "Matsumoto", "Boehm", "Berezin", "Booth", "Keller", "Chomsky",
    "Taussky", "Backus", "Church", "Curry", "Kay", "Milner", "Iverson",
    "Rivest", "Shamir", "Adleman", "Tarjan", "Karp", "Cook", "Blum",
    "Hartmanis", "Stearns", "Rabin", "Pnueli", "Engelbart", "Juris", "Valiant")

  private val orgWords = Vector(
    "Quantum", "Vector", "Tensor", "Lambda", "Kernel", "Cipher", "Matrix",
    "Neural", "Photon", "Plasma", "Raster", "Scalar", "Socket", "Stream",
    "Syntax", "Vertex", "Wavelet", "Zenith", "Apex", "Cobalt")

  private val orgSuffixes = Vector("Systems", "Labs", "Works", "Networks", "Dynamics")

  private val topics = Vector("Compilers", "Databases", "Graphics", "Networks",
    "Robotics", "Security", "Statistics", "Theory")

  /** 12 topic clusters × 12 words — abstracts and descriptions draw from the
    * SAME cluster for true pairs, different clusters for decoys, which is
    * what gives the context-cosine feature its signal.
    */
  private val topicVocab: Vector[Vector[String]] = Vector(
    Vector("parser", "lexer", "grammar", "token", "ast", "codegen", "optimizer", "register", "inline", "loop", "ssa", "bytecode"),
    Vector("index", "btree", "query", "transaction", "shard", "replica", "columnar", "vacuum", "join", "planner", "wal", "snapshot"),
    Vector("shader", "raster", "polygon", "texture", "render", "vertex", "pixel", "frame", "mesh", "lighting", "raytrace", "buffer"),
    Vector("packet", "router", "latency", "protocol", "socket", "bandwidth", "congestion", "gateway", "subnet", "firewall", "dns", "tcp"),
    Vector("actuator", "sensor", "gripper", "kinematics", "slam", "lidar", "servo", "trajectory", "odometry", "gyro", "balance", "motor"),
    Vector("cipher", "nonce", "entropy", "keypair", "signature", "handshake", "audit", "sandbox", "exploit", "patch", "hash", "vault"),
    Vector("sample", "variance", "bayesian", "regression", "quantile", "bootstrap", "prior", "posterior", "kernel2", "gradient", "epoch", "loss"),
    Vector("automata", "lattice", "monoid", "category", "proof", "induction", "complexity", "reduction", "oracle2", "turing2", "decidable", "bound"),
    Vector("container", "scheduler", "cluster", "autoscale", "deploy", "rollout", "canary", "quota", "node2", "pod", "mesh2", "probe"),
    Vector("ledger", "payment", "invoice", "settlement", "accrual", "balance2", "audit2", "treasury", "escrow", "clearing", "risk", "margin"),
    Vector("genome", "protein", "sequence", "alignment2", "variant", "assay", "splice", "codon", "plasmid", "enzyme", "culture", "strain"),
    Vector("telemetry", "tracing", "metric", "alert", "dashboard", "sampling", "span", "ingest", "retention", "cardinality", "rollup", "sink"))

  private val fillerWords = Vector(
    "val", "def", "class", "object", "import", "return", "public", "static",
    "final", "override", "private", "lazy", "match", "case", "trait",
    "extends", "with", "implicit", "throws", "assert")

  private val langs = Vector("scala", "java", "py", "md")
  private val exts = Map("scala" -> "scala", "java" -> "java", "py" -> "py", "md" -> "md")

  // ---------------------------------------------------------------- entities

  def topicOf(i: Long): Int = pick(1L, i, topicVocab.size)

  /** Primary display name of entity i (also the true account's name). */
  def entityName(i: Long): String = {
    if (isOrg(i)) {
      val w1 = orgWords(pick(2L, i, orgWords.size))
      val w2 = orgWords(pick(3L, i, orgWords.size))
      val sfx = orgSuffixes(pick(4L, i, orgSuffixes.size))
      s"$w1 $w2 $sfx"
    } else {
      val f = firstNames(pick(5L, i, firstNames.size))
      val l = lastNames(pick(6L, i, lastNames.size))
      s"$f $l"
    }
  }

  def isOrg(i: Long): Boolean = pick(7L, i, 10) < 3
  def isPerson(i: Long): Boolean = !isOrg(i) && pick(8L, i, 10) < 9 // rest "other"
  def kindOf(i: Long): String =
    if (isOrg(i)) "org" else if (isPerson(i)) "per" else "other"
  def isDead(i: Long): Boolean = pick(9L, i, 100) < 5
  def hasTopicSuffix(i: Long): Boolean = pick(10L, i, 100) < 10
  /** 15% of entities have NO true account (abstain expected → FN if picked). */
  def hasGold(i: Long): Boolean = pick(11L, i, 100) < 85

  /** Entity IRIs are unique (index-disambiguated, the way DBpedia numbers
    * ambiguous resources) even when display NAMES collide — name collisions
    * are a planted edge case, id collisions would merge distinct entities.
    */
  def entityId(i: Long): String = {
    val base = "kb:resource/" + entityName(i).replace(' ', '_') + "__" + i
    if (hasTopicSuffix(i)) base + "_(" + topics(pick(12L, i, topics.size)) + ")" else base
  }

  def entityNames(i: Long): Seq[String] = {
    val primary = entityName(i)
    val b = Vector.newBuilder[String]
    b += primary
    if (kindOf(i) == "per") {
      val parts = primary.split(' ')
      if (parts.length == 2 && pick(13L, i, 100) < 60)
        b += s"${parts(1)}, ${parts(0)}" // "Last, First" variant (F14)
    }
    if (pick(14L, i, 100) < 20) b += primary.toUpperCase
    b.result()
  }

  def entityLabels(i: Long): Seq[String] = Vector(entityName(i))

  def entityAbstract(i: Long): String = {
    val t = topicOf(i)
    val vocab = topicVocab(t)
    val words = (0 until 10).map(k => vocab(pick(15L + k, i, vocab.size)))
    s"${entityName(i)} is a ${kindOf(i)} known for ${words.mkString(" ")}"
  }

  /** Homepage of entity i ("" = none, ~60% coverage). True accounts carry
    * the same url (accountUrl), which is what feeds the F12 lookup binaries
    * (HomepageAlignmentsScorer.java:28-35: the homepage→account alignment
    * table the reference fetches from its DB).
    */
  def entityHomepage(i: Long): String =
    if (pick(50L, i, 100) < 60)
      "https://" + entityName(i).toLowerCase.replace(' ', '-') + "-" + i + ".example.org"
    else ""

  def entityRow(i: Long): Entity =
    Entity(entityId(i), entityNames(i), entityLabels(i), kindOf(i), isDead(i),
      entityAbstract(i), entityHomepage(i))

  // ---------------------------------------------------------------- accounts

  /** Account index layout for a scale with E entities, N noise accounts:
    *   [0, E)        true accounts for entities that have gold (others unused slots → still emitted as noise-like)
    *   [E, 2E)       decoy accounts (same/near name, different topic) for ~50% of entities
    *   [2E, 2E+N)    pure noise accounts
    * accountId = 100000 + index.
    */
  /** Base constant of the account-id scheme — shared with ScalarOracle's
    * inverse mapping so the two sides cannot drift.
    */
  val AccountIdBase: Long = 100000L

  def accountIdOf(idx: Long): Long = AccountIdBase + idx

  def screenNameOf(idx: Long, scale: Scale): String = {
    val nm = accountDisplayName(idx, scale).toLowerCase.replace(' ', '_').replace(",", "")
    s"${nm}_$idx"
  }

  def accountKindOf(idx: Long, scale: Scale): String = {
    val e = scale.nEntities
    if (idx < e) "true" else if (idx < 2L * e) "decoy" else "noise"
  }

  def accountDisplayName(idx: Long, scale: Scale): String = {
    val e = scale.nEntities
    accountKindOf(idx, scale) match {
      case "true" => entityName(idx)
      case "decoy" =>
        val ent = idx - e
        // half the decoys share the exact entity name (tie → ranking matters),
        // half are near-misses (1-char perturbation → must NOT match exact dictionary)
        if (pick(16L, ent, 2) == 0) entityName(ent)
        else {
          val nm = entityName(ent)
          nm.updated(nm.length / 2, 'x')
        }
      case _ =>
        val f = firstNames(pick(17L, idx, firstNames.size))
        val l = lastNames(pick(18L, idx, lastNames.size))
        s"$f $l"
    }
  }

  def accountTopic(idx: Long, scale: Scale): Int = {
    val e = scale.nEntities
    accountKindOf(idx, scale) match {
      case "true" => topicOf(idx)
      case "decoy" => (topicOf(idx - e) + 1 + pick(19L, idx, topicVocab.size - 1)) % topicVocab.size
      case _ => pick(20L, idx, topicVocab.size)
    }
  }

  def accountDescription(idx: Long, scale: Scale): String = {
    val vocab = topicVocab(accountTopic(idx, scale))
    val words = (0 until 8).map(k => vocab(pick(21L + k, idx, vocab.size)))
    s"working on ${words.mkString(" ")}"
  }

  /** Profile url of account idx: 70% of true accounts carry their entity's
    * homepage (the planted F12 signal), 15% of decoys carry the SAME
    * homepage (non-unique / wrong-match noise), noise accounts occasionally
    * have an unrelated url.
    */
  def accountUrl(idx: Long, scale: Scale): String = {
    val e = scale.nEntities
    accountKindOf(idx, scale) match {
      case "true" => if (pick(51L, idx, 100) < 70) entityHomepage(idx) else ""
      case "decoy" =>
        if (pick(52L, idx, 100) < 15) entityHomepage(idx - e) else ""
      case _ =>
        if (pick(53L, idx, 100) < 10) s"https://noise-$idx.example.net" else ""
    }
  }

  /** "Now" of the synthesized world (2026-01-01T00:00:00Z) — F9 activity
    * recency is days-before-this-instant; a parameter, not wall clock
    * (ActivityScorer.java:17 `new Date()` made the reference's feature
    * non-reproducible — here determinism is a design requirement).
    */
  val NowMs: Long = 1767225600000L

  /** Epoch ms of the account's latest post (0 = never posted, 5% of
    * accounts). Planted staleness: true accounts post recently
    * (quadratic pull toward "today"), decoys/noise spread flat over a
    * year+ — the activity signal ActivityScorer.java:14-33 keys on.
    */
  def accountLastStatusAt(idx: Long, scale: Scale): Long = {
    if (pick(55L, idx, 100) < 5) 0L
    else {
      val u = unit(54L, idx)
      val days = accountKindOf(idx, scale) match {
        case "true" => 150.0 * u * u
        case "decoy" => 30.0 + 300.0 * u
        case _ => 420.0 * u
      }
      NowMs - math.round(days * 86400000.0)
    }
  }

  def accountRow(idx: Long, scale: Scale): Account = {
    val base = unit(22L, idx)
    // long-tailed popularity; celebrity account idx==0 is boosted (skew case)
    val followers0 = math.pow(10.0, 1.0 + 4.0 * base * base).toInt
    val followers = if (idx == 0) 5000000 else followers0
    val isTrue = accountKindOf(idx, scale) == "true"
    Account(
      accountIdOf(idx),
      screenNameOf(idx, scale),
      accountDisplayName(idx, scale),
      accountDescription(idx, scale),
      followers,
      math.max(1, (followers * unit(23L, idx)).toInt),
      (followers * 0.01 * unit(24L, idx)).toInt,
      1 + (3000 * unit(25L, idx)).toInt,
      isTrue && unit(26L, idx) < 0.3,
      accountUrl(idx, scale),
      accountLastStatusAt(idx, scale))
  }

  def nAccounts(scale: Scale): Long = 2L * scale.nEntities + scale.nNoiseAccounts

  /** Whether a decoy account exists for entity i (≈50%). */
  def hasDecoy(i: Long): Boolean = pick(27L, i, 2) == 0

  /** Account indices that may be mentioned in corpus files: true accounts of
    * gold entities, existing decoys, and noise accounts.
    */
  def mentionableAccount(scale: Scale, stream: Long, fileId: Long): Long = {
    val e = scale.nEntities
    // celebrity skew: `celebPct`% of all mentions hit account 0
    if (pick(28L + stream, fileId, 100) < scale.celebPct) 0L
    else {
      val r = pick(29L + stream, fileId, 100)
      if (r < 55) { // a true account
        var ent = pick(30L + stream, fileId, e).toLong
        if (!hasGold(ent)) ent = (ent * 7 + 1) % e // still fine: dictionary evidence exists regardless of gold
        ent
      } else if (r < 75) { // a decoy account (only where one exists)
        val ent = pick(31L + stream, fileId, e).toLong
        if (hasDecoy(ent)) e + ent else (2L * e) + pick(32L + stream, fileId, scale.nNoiseAccounts)
      } else {
        (2L * e) + pick(33L + stream, fileId, scale.nNoiseAccounts)
      }
    }
  }

  // ---------------------------------------------------------------- gold

  /** Dead entities expect ABSTENTION (-1), not alignment: the reference
    * pipeline refuses dead entities by spec (the P6 filter,
    * ProcessDataset.java:192-195), so its evaluation data can never hold a
    * positive expectation for one — a synthetic positive there would plant
    * an unsatisfiable-by-design FN that mismeasures selection quality
    * (it previously accounted for 59 of the 68 small-scale FNs).
    */
  def goldRow(i: Long): GoldRow =
    GoldRow(entityId(i),
      if (hasGold(i) && !isDead(i)) accountIdOf(i) else -1L)

  // ---------------------------------------------------------------- embeddings

  /** Dimensionality of the synthesized "pre-trained" embeddings (analogue
    * of the reference's kb200/sg300 vectors, scaled down).
    */
  val EmbDim = 16

  /** Deterministic pseudo-random basis vector for a topic cluster. */
  def topicBaseVec(topic: Int): Array[Double] =
    Array.tabulate(EmbDim) { j =>
      (h(60L + topic, j.toLong) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }

  private def noisyTopicVec(topic: Int, stream: Long, id: Long): Seq[Double] = {
    val base = topicBaseVec(topic)
    Array.tabulate(EmbDim) { j =>
      base(j) + 0.25 * ((h(stream + j, id) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0)
    }.toSeq
  }

  /** Entity embedding = its topic basis + per-entity noise (rdf2vec stand-in). */
  def entityEmbeddingRow(i: Long): EntityEmbedding =
    EntityEmbedding(entityId(i), noisyTopicVec(topicOf(i), 70L, i))

  /** Account embedding = its topic basis + per-account noise. */
  def accountEmbeddingRow(idx: Long, scale: Scale): AccountEmbedding =
    AccountEmbedding(accountIdOf(idx), noisyTopicVec(accountTopic(idx, scale), 90L, idx))

  // ---------------------------------------------------------------- corpus

  /** Zipf-ish repo assignment: repo 0 is the mega-repo (skew case). */
  def repoOf(scale: Scale, fileId: Long): Int = {
    val u = unit(34L, fileId)
    (u * u * u * scale.nRepos).toInt.min(scale.nRepos - 1)
  }

  def repoName(r: Int): String = s"org${r % 7}/proj$r"

  def langOf(fileId: Long): String = langs(pick(35L, fileId, langs.size))

  def commitOf(fileId: Long): String = {
    val a = h(36L, fileId); val b = h(37L, fileId); val c = (h(38L, fileId) >>> 32).toInt
    f"$a%016x$b%016x$c%08x"
  }

  def pathOf(scale: Scale, fileId: Long): String = {
    val lang = langOf(fileId)
    s"src/${lang}/pkg${pick(39L, fileId, 9)}/File$fileId.${exts(lang)}"
  }

  /** Display-name rendering inside an annotation: 70% plain, 20% camelCase,
    * 10% snake_case — the identifier-style forms a code corpus actually
    * carries (TextProcessor.java:129-147 hashtag camel-break analogue);
    * the dictionary build must split them back into words.
    */
  def renderDisplay(name: String, stream: Long, fileId: Long): String = {
    val r = pick(stream, fileId, 10)
    if (r < 2) name.split(' ').map(w => w.head.toUpper + w.tail).mkString("")
    else if (r == 2) name.toLowerCase.replace(' ', '_')
    else name
  }

  /** Mention account selection with topic affinity: up to 6 deterministic
    * draws, first one matching the author's topic wins (falls back to the
    * first draw). Gives the co-mention graph the topic assortativity a real
    * social graph has — which is what makes the social-graph embedding
    * feature informative (ExtractSocialGraph.java:75-96 analogue).
    */
  def mentionAccount(scale: Scale, k: Int, fileId: Long, authorTopic: Int): Long = {
    val first = mentionableAccount(scale, 41L + k, fileId)
    var t = 0
    var found = first
    var done = false
    while (t < 6 && !done) {
      val cand = if (t == 0) first
        else mentionableAccount(scale, 41L + k + 100L * t, fileId)
      if (accountTopic(cand, scale) == authorTopic) { found = cand; done = true }
      t += 1
    }
    found
  }

  /** File content. Grammar (deterministic per fileId):
    *   line 1: author annotation  `// @author <screen> (<Display Name>)`
    *   0..3:   mention annotations `// @mention <screen> (<Display Name>)`
    *   1 decoy plain-text near-miss name (no annotation — must be ignored)
    *   8..24 filler lines mixing the author's topic vocabulary + code tokens
    * The annotation carries BOTH screen name and display name, the way a
    * tweet's user/mention objects carry uid+name (BuildUserIndex.java:221-269);
    * display names render in plain/camel/snake form (renderDisplay).
    */
  def contentOf(scale: Scale, fileId: Long): String = {
    val sb = new StringBuilder(1024)
    val author = mentionableAccount(scale, 0L, fileId)
    sb.append("// @author ").append(screenNameOf(author, scale))
      .append(" (").append(renderDisplay(accountDisplayName(author, scale), 46L, fileId))
      .append(")\n")
    val authorTopic = accountTopic(author, scale)
    val nMentions = pick(40L, fileId, 4)
    var k = 0
    while (k < nMentions) {
      val m = mentionAccount(scale, k, fileId, authorTopic)
      sb.append("// @mention ").append(screenNameOf(m, scale))
        .append(" (").append(renderDisplay(accountDisplayName(m, scale), 47L + k, fileId))
        .append(")\n")
      k += 1
    }
    if (pick(42L, fileId, 3) == 0) {
      // plain-text near-miss: a real-looking name with NO annotation
      val ent = pick(43L, fileId, scale.nEntities).toLong
      sb.append("// thanks to ").append(entityName(ent)).append(" for the idea\n")
    }
    val vocab = topicVocab(accountTopic(author, scale))
    val nLines = 8 + pick(44L, fileId, 17)
    var ln = 0
    while (ln < nLines) {
      val nw = 4 + pick(45L + ln, fileId, 6)
      var w = 0
      while (w < nw) {
        val word =
          if (pick(100L + ln * 31 + w, fileId, 3) == 0) vocab(pick(200L + ln * 31 + w, fileId, vocab.size))
          else fillerWords(pick(300L + ln * 31 + w, fileId, fillerWords.size))
        sb.append(word).append(if (w == nw - 1) "" else " ")
        w += 1
      }
      sb.append('\n')
      ln += 1
    }
    sb.toString
  }

  def repoFileRow(scale: Scale, fileId: Long): RepoFile =
    RepoFile(repoName(repoOf(scale, fileId)), pathOf(scale, fileId),
      commitOf(fileId), langOf(fileId), contentOf(scale, fileId))

  // ---------------------------------------------------------------- datasets

  def repos(spark: SparkSession, scale: Scale): Dataset[RepoFile] = {
    import spark.implicits._
    spark.range(0L, scale.nFiles.toLong, 1L, spark.sparkContext.defaultParallelism)
      .map(i => repoFileRow(scale, i))
  }

  def entities(spark: SparkSession, scale: Scale): Dataset[Entity] = {
    import spark.implicits._
    spark.range(0L, scale.nEntities.toLong).map(i => entityRow(i))
  }

  def accounts(spark: SparkSession, scale: Scale): Dataset[Account] = {
    import spark.implicits._
    spark.range(0L, nAccounts(scale)).map(i => accountRow(i, scale))
  }

  def gold(spark: SparkSession, scale: Scale): Dataset[GoldRow] = {
    import spark.implicits._
    spark.range(0L, scale.nEntities.toLong).map(i => goldRow(i))
  }

  def entityEmbeddings(spark: SparkSession, scale: Scale): Dataset[EntityEmbedding] = {
    import spark.implicits._
    spark.range(0L, scale.nEntities.toLong).map(i => entityEmbeddingRow(i))
  }

  def accountEmbeddings(spark: SparkSession, scale: Scale): Dataset[AccountEmbedding] = {
    import spark.implicits._
    spark.range(0L, nAccounts(scale)).map(i => accountEmbeddingRow(i, scale))
  }
}
