package perfbench

/** Seeded input generation. Everything here is a pure function of the
  * seed and the 5,000 seed rows, so the same seed gives the same inputs.
  * A seed moves doc_id offsets and the affine letter permutation applied
  * to every text; it never changes a size, a count or a mix share. */
object Inputs {

  val Abc = "abcdefghijklmnopqrstuvwxyz"

  /** Affine alphabet map i -> a*i + b (mod 26) with a coprime to 26: 312
    * distinct permutations, two of which agree on at most two letters, so
    * no word of three or more distinct letters reads the same under two of
    * them (the ScaleBench replica construction). */
  def affinePerm(p: Int): String = {
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val a = coprimes(p % coprimes.length)
    val b = (p / coprimes.length) % 26
    (0 until 26).map(i => ('a' + (a * i + b) % 26).toChar).mkString
  }

  val NPerms = 312

  /** Permutation index of replica `slot` (of `slots`) under `seed`. Index
    * 0 is the identity, which no seed uses, so the generated texts never
    * equal the seed table's. */
  def permIndex(seed: Long, slot: Int, slots: Int): Int =
    1 + Math.floorMod(seed * slots + slot, (NPerms - 1).toLong).toInt

  def permute(text: String, perm: String): String = {
    if (text == null) return null
    val out = new Array[Char](text.length)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      out(i) =
        if (c >= 'a' && c <= 'z') perm.charAt(c - 'a')
        else if (c >= 'A' && c <= 'Z') perm.charAt(c - 'A').toUpper
        else c
      i += 1
    }
    new String(out)
  }

  /** Seeds are taken modulo this many id ranges. */
  val IdRanges = 100000L

  /** Doc-id base of a seed. A multiple of `gen.Corpus.MegaModulus`, so the
    * synthesized corpus's mega-doc share is the same under every seed;
    * one range (1.01e9 ids) holds every id one workload generates. */
  def idBase(seed: Long): Long =
    (Math.floorMod(seed, IdRanges) + 1) * 1010000000L

  /** One seed row of the bundled documents table. */
  final case class SeedRow(docId: Long, text: String, lang: String,
                           source: String)

  // ---- curate_stream shard composition --------------------------------

  /** Docs per shard, by kind; the shares never move with the seed. 102
    * docs, 52 of them fresh, is the fixed shard of ScaleBench's per-shard
    * curation rows (52 fresh docs + 50 corpus clones). Here the 50 that
    * are not fresh are spread over the other kinds so that every decision
    * of the loop fires in a shard; those shares have no other source. */
  val Fresh = 52        // held-out seed rows the corpus has never seen
  val NearCorpus = 10   // variants of corpus docs
  val NearKeeper = 10   // variants of the previous shard's fresh docs
  val Clones = 10       // byte-identical copies of this shard's fresh docs
  val Contam = 10       // held-out rows carrying a benchmark snippet
  val Gibberish = 5     // consonant salad
  val Short = 5         // a few words
  val ShardSize: Int =
    Fresh + NearCorpus + NearKeeper + Clones + Contam + Gibberish + Short

  /** Benchmark snippets: 16 distinct words outside the corpus vocabulary,
    * each snippet stepping through the words with its own stride coprime
    * to 26, so no two snippets share even a word pair: a carrier shares a
    * 13-gram with the bench set and with no other carrier. */
  private val Nato = IndexedSeq("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliett", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango",
    "uniform", "victor", "whiskey", "xray", "yankee", "zulu")
  val BenchSnippets: IndexedSeq[String] =
    Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25).zipWithIndex.map { case (stride, k) =>
      (0 until 16).map(j => Nato((k + j * stride) % 26)).mkString(" ")
    }.toIndexedSeq

  private val Salad = IndexedSeq("xqzj", "wvkx", "qjzx", "vbdg", "kxqz",
    "jxqv", "zzqk", "xjvq", "qkzx", "vjxq", "zqxk", "jqvz")

  /** Consonant salad that passes the heuristic length/token gates; only the
    * LM's out-of-distribution cut rejects it. */
  def gibberish(k: Int): String =
    (0 until 48).map(j => Salad((k + j * 7) % Salad.length)).mkString(" ")

  def shortDoc(k: Int): String = s"tiny junk ${Salad(k % Salad.length)}"

  /** A near-duplicate that survives the gram scrub: a new word goes in
    * before the 8th, 16th, 24th, ... distinct word, so every window of 13
    * distinct words holds one (no corpus 13-gram survives) while most
    * word 3-shingles and >= 0.8 of the word set are shared. */
  def nearVariant(text: String, k: Int): String = {
    val words = text.split(" ").filter(_.nonEmpty)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Vector.newBuilder[String]
    var inserted = 0
    for (w <- words) {
      if (!seen(w)) {
        seen += w
        if (seen.size % 8 == 0) {
          out += words((k + inserted * 5) % words.length) + "x" + inserted
          inserted += 1
        }
      }
      out += w
    }
    out.result().mkString(" ")
  }

  /** One shard kind tag per position; the order is the id order. */
  def shardKinds: IndexedSeq[String] =
    IndexedSeq.fill(Fresh)("fresh") ++ IndexedSeq.fill(NearCorpus)("near_corpus") ++
      IndexedSeq.fill(NearKeeper)("near_keeper") ++ IndexedSeq.fill(Clones)("clone") ++
      IndexedSeq.fill(Contam)("contam") ++ IndexedSeq.fill(Gibberish)("gibberish") ++
      IndexedSeq.fill(Short)("short")

  /** Shard `b`'s docs (doc_id, text, source, lang, kind), before the seed
    * permutation. `heldOut` feeds fresh and snippet carriers, `corpus`
    * the corpus variants; both are in doc_id order. Shard b's ids are
    * larger than every earlier shard's and every corpus id. */
  def shard(b: Int, base: Long, heldOut: IndexedSeq[SeedRow],
            corpus: IndexedSeq[SeedRow]): IndexedSeq[(Long, String, String, String, String)] = {
    val perShard = Fresh + Contam
    require((b + 1) * perShard <= heldOut.length,
      s"shard $b needs ${(b + 1) * perShard} held-out rows, have ${heldOut.length}")
    def heldRow(i: Int) = heldOut(b * perShard + i)
    def freshOf(shardNo: Int, i: Int) = heldOut(shardNo * perShard + i)
    val ids = Iterator.from(0).map(i => base + 100000000L + b.toLong * 1000L + i)
    val kinds = shardKinds
    var fresh, nc, nk, cl, co, gi, sh = 0
    kinds.map { kind =>
      val id = ids.next()
      kind match {
        case "fresh" =>
          val r = heldRow(fresh); fresh += 1
          (id, r.text, r.source, r.lang, kind)
        case "near_corpus" =>
          val r = corpus(Math.floorMod(b * 7919 + nc * 104729, corpus.length))
          nc += 1
          (id, nearVariant(r.text, b + nc), r.source, r.lang, kind)
        case "near_keeper" =>
          // shard 0 has no predecessor: its variants pair up in-shard
          val r = freshOf(math.max(b - 1, 0), nk); nk += 1
          (id, nearVariant(r.text, b + nk), r.source, r.lang, kind)
        case "clone" =>
          val r = heldRow(cl); cl += 1
          (id, r.text, r.source, r.lang, kind)
        case "contam" =>
          val r = heldRow(Fresh + co)
          val doc = BenchSnippets((b + co) % BenchSnippets.length) + " " + r.text
          co += 1
          (id, doc, r.source, r.lang, kind)
        case "gibberish" =>
          gi += 1; (id, gibberish(b + gi), "web", "en", kind)
        case _ =>
          sh += 1; (id, shortDoc(b + sh), "web", "en", kind)
      }
    }
  }
}
