"""Text-analysis operators (LLM-data-pipeline extension, BASELINE.json).

All expressions are built-in ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, no Python in the hot path. Each operator is also
expressible in ANSI SQL for DuckDB-oracle parity.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.literals import local_frame
from ..functions.text import normalize_whitespace, split_words

# Per-language stopword profiles (~100 function words each, snowball-style
# lists — public knowledge) for the stopword-hit language heuristic. Only
# whitespace-tokenized languages are profiled here: a whitespace split
# never matches CJK text, so `language_id` is scoped to these and
# `language_id_cjk` (r7) adds zh/ja/ko via the character-bigram
# profiles CJK_BIGRAM_PROFILES below. Words are lowercase and
# apostrophe-free so the same literals embed safely in the DuckDB oracle.
LANG_PROFILES: dict[str, list[str]] = {
    "en": [
        "i", "me", "my", "myself", "we", "our", "ours", "you", "your",
        "yours", "he", "him", "his", "she", "her", "hers", "it", "its",
        "they", "them", "their", "theirs", "what", "which", "who", "whom",
        "this", "that", "these", "those", "am", "is", "are", "was", "were",
        "be", "been", "being", "have", "has", "had", "having", "do", "does",
        "did", "doing", "a", "an", "the", "and", "but", "if", "or",
        "because", "as", "until", "while", "of", "at", "by", "for", "with",
        "about", "against", "between", "into", "through", "during",
        "before", "after", "above", "below", "to", "from", "up", "down",
        "in", "out", "on", "off", "over", "under", "again", "further",
        "then", "once", "here", "there", "when", "where", "why", "how",
        "all", "any", "both", "each", "few", "more", "most", "other",
        "some", "such", "no", "nor", "not", "only", "own", "same", "so",
        "than", "too", "very", "can", "will", "just", "should", "now",
    ],
    "es": [
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
        "mi", "mis", "tú", "te", "ti", "tu", "tus", "ellas", "os", "mío",
        "mía", "tuyo", "tuya", "suyo", "suya", "nuestro", "nuestra",
        "vuestro", "vuestra", "esos", "esas", "estoy", "está", "estamos",
        "están", "son", "era", "fue", "ser", "tiene", "tengo",
    ],
    "fr": [
        "au", "aux", "avec", "ce", "ces", "dans", "de", "des", "du",
        "elle", "en", "et", "eux", "il", "ils", "je", "la", "le", "les",
        "leur", "leurs", "lui", "ma", "mais", "me", "même", "mes", "moi",
        "mon", "ne", "nos", "notre", "nous", "on", "ou", "où", "par",
        "pas", "pour", "que", "qui", "sa", "se", "ses", "son", "sur",
        "ta", "te", "tes", "toi", "ton", "tu", "un", "une", "vos",
        "votre", "vous", "y", "été", "être", "avoir", "fait", "faire",
        "comme", "tout", "tous", "toute", "toutes", "plus", "autre",
        "autres", "sans", "sous", "entre", "après", "avant", "aussi",
        "bien", "encore", "alors", "donc", "car", "si", "cette", "cet",
        "celui", "celle", "ceux", "celles", "ici", "là", "très", "peu",
        "beaucoup", "trop", "quand", "comment", "pourquoi", "quel",
        "quelle", "quels", "quelles", "est", "sont", "sera", "ont", "a",
    ],
    "de": [
        "aber", "alle", "allem", "allen", "aller", "alles", "als", "also",
        "am", "an", "ander", "andere", "anderen", "anderer", "auch",
        "auf", "aus", "bei", "bin", "bis", "bist", "da", "damit", "dann",
        "der", "den", "des", "dem", "die", "das", "dass", "dazu", "dein",
        "deine", "denn", "doch", "dort", "durch", "ein", "eine", "einem",
        "einen", "einer", "eines", "er", "es", "für", "gegen", "gewesen",
        "hab", "habe", "haben", "hat", "hatte", "hatten", "hier", "hin",
        "hinter", "ich", "mich", "mir", "ihr", "ihre", "im", "in", "ist",
        "ja", "jede", "jedem", "jeden", "jeder", "jedes", "kann", "kein",
        "keine", "können", "machen", "man", "mehr", "mein", "meine",
        "mit", "muss", "nach", "nicht", "noch", "nun", "nur", "ob",
        "oder", "ohne", "sehr", "sein", "seine", "sich", "sie", "sind",
        "so", "über", "um", "und", "uns", "unter", "vom", "von", "vor",
        "war", "waren", "was", "weil", "wenn", "werden", "wie", "wieder",
        "wir", "wird", "wo", "zu", "zum", "zur",
    ],
    "it": [
        "a", "ad", "al", "allo", "ai", "agli", "alla", "alle", "con",
        "col", "coi", "da", "dal", "dallo", "dai", "dagli", "dalla",
        "dalle", "di", "del", "dello", "dei", "degli", "della", "delle",
        "in", "nel", "nello", "nei", "negli", "nella", "nelle", "su",
        "sul", "sullo", "sui", "sugli", "sulla", "sulle", "per", "tra",
        "fra", "io", "tu", "lui", "lei", "noi", "voi", "loro", "mio",
        "mia", "miei", "mie", "tuo", "tua", "tuoi", "tue", "suo", "sua",
        "suoi", "sue", "nostro", "nostra", "nostri", "nostre", "vostro",
        "vostra", "che", "chi", "cui", "non", "più", "quale", "quanto",
        "quanti", "quella", "quelle", "quelli", "quello", "questa",
        "queste", "questi", "questo", "si", "tutto", "tutti", "ma", "ed",
        "se", "perché", "anche", "come", "dove", "e", "la", "il", "lo",
        "le", "li", "un", "una", "uno", "sono", "è", "sei", "siamo",
        "siete", "ha", "hanno", "era",
    ],
    "pt": [
        "de", "a", "o", "que", "e", "do", "da", "em", "um", "para", "é",
        "com", "não", "uma", "os", "no", "se", "na", "por", "mais", "as",
        "dos", "como", "mas", "foi", "ao", "ele", "das", "tem", "à",
        "seu", "sua", "ou", "ser", "quando", "muito", "há", "nos", "já",
        "está", "eu", "também", "só", "pelo", "pela", "até", "isso",
        "ela", "entre", "era", "depois", "sem", "mesmo", "aos", "ter",
        "seus", "quem", "nas", "me", "esse", "eles", "estão", "você",
        "tinha", "foram", "essa", "num", "nem", "suas", "meu", "às",
        "minha", "têm", "numa", "pelos", "elas", "havia", "seja", "qual",
        "será", "nós", "tenho", "lhe", "deles", "essas", "esses", "pelas",
        "este", "fosse", "dele", "tu", "te", "vocês", "vos", "lhes",
        "meus", "minhas", "teu", "tua", "teus", "tuas", "nosso", "nossa",
        "nossos", "nossas",
    ],
}


def _lit_str_array(words) -> F.Column:
    """Literal string array as ONE py4j literal + split (constant-folded
    to the array by Catalyst). Per-element `F.lit` — or `F.lit(list)`,
    which loops internally — costs ~1 ms of py4j round-trip per element
    at every plan CONSTRUCTION; a 670-word profile rebuilt per bench run
    measured 0.6 s of pure build overhead that way."""
    words = list(words)
    if not words:  # split("") would yield [""], a phantom empty token
        return F.array()
    if any(" " in w for w in words):  # not assert: must hold under python -O
        raise ValueError("space in word breaks the encoding")
    return F.split(F.lit(" ".join(words)), " ")


def _word_ngrams(words: F.Column, n: int) -> F.Column:
    """Space-joined word ``n``-grams, empty array for docs shorter than
    ``n`` words. The guard is semantic, not cosmetic: for size < n,
    ``sequence(1, size-n+1)`` descends (e.g. [1, 0]) and ``slice(_, 0, n)``
    throws INVALID_PARAMETER_VALUE.START — a short or empty document
    would abort the whole job."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, a BPE-ish
    subword estimate (word-chunks of ≤4 chars — ceil(len/4) per word), and
    char length."""
    words = split_words(text_col)
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars_measured"),
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
        F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
        ).alias("n_subword_est"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality scoring: length, mean word length, punctuation density,
    stopword ratio, uppercase ratio — the standard cheap quality gates in
    LLM-corpus pipelines."""
    words = split_words(text_col)
    n_words = F.size(words)
    en_stop = _lit_str_array(LANG_PROFILES["en"])
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars_measured"),
        n_words.alias("n_words"),
        (F.length(F.regexp_replace(text_col, r"\s", "")) / n_words.cast("double")).alias(
            "mean_word_len"
        ),
        # guarded: an EMPTY document has length 0 and the bare division
        # is an ANSI DIVIDE_BY_ZERO that aborts the whole job (found by
        # the r13 hostile-corpus totality sweep); ratio undefined -> null
        F.when(
            F.length(text_col) > 0,
            F.size(F.regexp_extract_all(text_col, F.lit(r"([\.,;:!\?])"), 1))
            / F.length(text_col).cast("double"),
        ).alias("punct_ratio"),
        (
            F.size(F.array_intersect(words, en_stop)) / n_words.cast("double")
        ).alias("stopword_hit_ratio"),
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Language ID heuristic: stopword-profile hit counts per language +
    argmax. Returns the per-language scores (distinct profile words found)
    and the predicted language; deterministic tie-break by language code.

    Scale shape (r5 rewrite): each doc scores itself in ONE narrow
    projection — `size(array_intersect(distinct_words, <profile>))` per
    language, where every profile is a literal array that Catalyst
    constant-folds once (the per-row cost is a ~50-element hash probe
    against a ~120-word set, JVM-side). No explode fan-out, no broadcast
    join, no aggregate exchange, no first-call profile-table build, no
    shuffle at any scale. Measured min-of-5 full-collect at sf0.1:
    0.39 s vs 0.73 s for the r3 explode→broadcast-join→groupBy shape
    (and 3.4 s for a literal-map variant: Spark map literals are
    array-backed, so `element_at` is a linear scan — avoid). Adding a
    language is still a data change at the call site via ``profiles``."""
    profiles = profiles if profiles is not None else LANG_PROFILES
    langs = sorted(profiles)
    # coalesce: NULL text must yield zero scores, not NULL ones (the old
    # explode_outer path kept such docs as all-zero rows)
    candidates = F.coalesce(
        F.array_distinct(split_words(text_col)), F.array()
    )
    scored = df.select(
        F.col(id_col),
        *[
            F.size(
                F.array_intersect(
                    candidates, _lit_str_array(sorted(set(profiles[lang])))
                )
            )
            .cast("int")
            .alias(f"score_{lang}")
            for lang in langs
        ],
    )
    # argmax with deterministic tie-break: array_position finds the FIRST
    # index holding the max, and langs is sorted, so ties resolve
    # alphabetically — same contract as a strictly-greater fold. Stated
    # as non-conditional array ops (not a when-chain) deliberately: a
    # nested when-fold re-references each score twice per level, and
    # once CollapseProject inlines the array_intersects into those
    # references the expansion is exponential (measured 0.94 s vs
    # 0.39 s at sf0.1); codegen subexpression elimination recovers
    # array_max/array_position sharing but skips conditional branches.
    arr = F.array(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.element_at(
        _lit_str_array(langs),
        F.array_position(arr, F.array_max(arr)).cast("int"),
    )
    return scored.withColumn("predicted_lang", pred)


# Character-bigram profiles for the CJK languages a whitespace tokenizer
# cannot reach (VERDICT r6 #5): high-frequency function-morpheme bigrams
# (Japanese kana inflections/particles, Korean josa/eomi syllable pairs,
# Chinese function-word compounds) — public-frequency-list knowledge, the
# character-n-gram analog of the snowball stopword profiles above. Two
# chars each, no spaces, so the same `_lit_str_array` literal encoding and
# the same DuckDB-literal embedding apply.
CJK_BIGRAM_PROFILES: dict[str, list[str]] = {
    "ja": [
        "です", "ます", "した", "して", "ない", "ある", "いる", "この",
        "これ", "それ", "その", "こと", "もの", "ので", "から", "まで",
        "とい", "いう", "され", "てい", "ませ", "でし", "だっ", "った",
        "など", "にも", "には", "たち", "よう", "もし", "でも", "だけ",
        "なが", "がら", "おり", "なり",
    ],
    "ko": [
        "입니", "니다", "습니", "있습", "하는", "하고", "하지", "해서",
        "했다", "한다", "있는", "없는", "없다", "것이", "것을", "그리",
        "리고", "에서", "으로", "에게", "부터", "까지", "지만", "우리",
        "그는", "이다", "되는", "된다", "들이", "들은", "들의", "않는",
        "않다", "때문", "대한", "위해",
    ],
    "zh": [
        "我们", "你们", "他们", "这个", "那个", "什么", "可以", "没有",
        "因为", "所以", "时候", "知道", "现在", "自己", "一个", "大家",
        "但是", "如果", "就是", "还是", "已经", "这样", "那样", "这些",
        "那些", "不是", "的话", "为了", "而且", "或者", "虽然", "然后",
        "于是", "问题", "东西", "地方",
    ],
}

# hiragana+katakana, CJK unified ideographs, hangul syllables — a literal
# BMP char-range class, valid in both Java regex (Spark) and RE2 (DuckDB)
CJK_CHAR_RANGES = "぀-ヿ一-鿿가-힯"


def cjk_char_array(text_col, max_chars: int = 200) -> F.Column:
    """The CJK characters of a text column as an array, capped at
    ``max_chars`` (language ID saturates long before that). ONE regex
    pass — ``regexp_extract_all`` with a char-class group measured 3×
    faster than a ``regexp_replace`` strip at sf0.1 (no output-string
    rewrite; non-CJK chars fail the class on the first comparison)."""
    text_col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.slice(
        F.regexp_extract_all(text_col, F.lit(f"([{CJK_CHAR_RANGES}])"), 1),
        1,
        max_chars,
    )


def cjk_char_bigrams(chars_col) -> F.Column:
    """Distinct overlapping character bigrams of a CJK char array: zip
    the array with its shift-by-one. All JVM built-ins, zero shuffle.

    Deliberately takes the CHAR ARRAY, not the text: callers stage
    ``cjk_char_array`` as a real projection column first, so the regex
    runs once per row — referencing the extraction inside each of the
    3 per-language intersects would re-evaluate it per reference
    (measured 1.05 s vs 0.65 s for the staged form at sf0.1; the same
    CollapseProject trap the `language_id` when-chain note documents)."""
    ch = F.col(chars_col) if isinstance(chars_col, str) else chars_col
    m = F.greatest(F.lit(0), F.size(ch) - 1)
    bigrams = F.zip_with(
        F.slice(ch, 1, m), F.slice(ch, 2, m), lambda a, b: F.concat(a, b)
    )
    return F.array_distinct(bigrams)


def language_id_cjk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, list[str]] | None = None,
    cjk_profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Language ID over whitespace-tokenized AND CJK languages: stopword
    word-profile scores (as `language_id`) plus character-bigram profile
    scores, argmax across the union with the same alphabetical tie-break.

    Same scale shape as `language_id` — every profile is a constant-
    folded literal array, each doc scores itself in one narrow projection
    (no explode, no join, no shuffle). The only added per-row cost is one
    regex scan to extract the CJK substring; Latin-script docs produce an
    empty bigram set and fall through to the word scores."""
    profiles = profiles if profiles is not None else LANG_PROFILES
    cjk = cjk_profiles if cjk_profiles is not None else CJK_BIGRAM_PROFILES
    for lang, grams in cjk.items():
        bad = [g for g in grams if len(g) != 2]
        if bad:  # a non-bigram entry can never match — decorative
            raise ValueError(f"cjk profile {lang!r} has non-bigram entries: {bad}")
    langs = sorted(set(profiles) | set(cjk))
    # stage the regex extraction as a real column so it evaluates once
    # per row; the scoring projection then references only the array
    df = df.select(
        F.col(id_col), F.col(text_col),
        cjk_char_array(text_col).alias("_cjk_chars"),
    )
    words = F.coalesce(F.array_distinct(split_words(text_col)), F.array())
    bigrams = F.coalesce(cjk_char_bigrams("_cjk_chars"), F.array())
    scores = []
    for lang in langs:
        parts = []
        if lang in profiles:
            parts.append(
                F.size(
                    F.array_intersect(
                        words, _lit_str_array(sorted(set(profiles[lang])))
                    )
                )
            )
        if lang in cjk:
            parts.append(
                F.size(
                    F.array_intersect(
                        bigrams, _lit_str_array(sorted(set(cjk[lang])))
                    )
                )
            )
        expr = parts[0] if len(parts) == 1 else parts[0] + parts[1]
        scores.append(expr.cast("int").alias(f"score_{lang}"))
    scored = df.select(F.col(id_col), *scores)
    arr = F.array(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.element_at(
        _lit_str_array(langs),
        F.array_position(arr, F.array_max(arr)).cast("int"),
    )
    return scored.withColumn("predicted_lang", pred)


def document_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Document fingerprinting: md5 content digest of normalized text plus
    a position-weighted polynomial hash over words —
    ``sum_i (i+1) * (7*len(w_i) + ascii(w_i)) mod 2^31-1``. Order-aware
    (unlike a bag-of-words hash) yet commutative in aggregation, so it
    computes as an embarrassingly parallel sum in any engine."""
    norm = normalize_whitespace(text_col)
    words = F.split(norm, " ")
    mod = 2147483647
    weighted = F.transform(
        words,
        lambda w, i: (i.cast("long") + 1)
        * (F.length(w).cast("long") * 7 + F.ascii(w).cast("long")),
    )
    rolling = (
        F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)
        % F.lit(mod)
    )
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("content_md5"),
        rolling.alias("rolling_hash"),
        F.length(norm).alias("norm_len"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Stratified sampling for corpus curation: per-stratum Bernoulli
    fractions (e.g. downsample boilerplate-heavy sources, keep all rare
    languages). ``sampleBy`` is executor-local per row — no shuffle — and
    deterministic given ``seed``."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def train_test_split(
    df: DataFrame,
    id_col: str,
    test_fraction: float = 0.1,
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic, migration-stable train/test split: bucket by a hash
    of (salt, id). Unlike ``randomSplit`` the assignment is a pure
    function of the row id — re-runs, re-partitioning, and incremental
    appends never move a document across the split (leakage-safe).

    The hash is md5 (not Spark's Murmur3): engine-portable, so any other
    system — including the SQL oracle — can recompute the exact split.
    A doc is "test" iff the first 8 hex chars of md5('salt_id') fall
    below floor(fraction * 16^8), i.e. fraction resolution 2^-32."""
    digest = F.md5(
        F.concat_ws("_", F.lit(salt), F.col(id_col).cast("string"))
    )
    threshold = format(int(test_fraction * 16**8), "08x")
    return df.withColumn(
        "split",
        F.when(F.substring(digest, 1, 8) < threshold, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def temperature_resample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    alpha: float = 0.5,
    target_fraction: float = 0.5,
    salt: str = "mix-v1",
) -> DataFrame:
    """Temperature-based domain mixing — the data-mixing step every
    multi-source training corpus runs: domain d's share of the output is
    proportional to count(d)^alpha instead of count(d), so alpha<1
    flattens the mix toward rare domains (alpha=1 natural, alpha=0
    uniform). Output sizes to ``target_fraction`` of the input corpus.

    Per-domain keep rates derive from ONE tiny count aggregate
    (broadcast back onto the fact table — no fact-side shuffle), and the
    per-doc keep decision is the same engine-portable md5-threshold used
    by ``train_test_split``: deterministic, re-run/repartition-stable,
    and recomputable by any other system including the SQL oracle.
    Rates are rounded to 6 dp before thresholding so cross-engine float
    ULP differences cannot move a doc across the keep boundary; the
    default alpha=0.5 uses sqrt, which IEEE-754 rounds exactly (pow is
    not so specified — prefer binary-exact alphas for oracle parity).

    Domains whose rate clamps at 1 keep everything: without-replacement
    materialization cannot upsample past a domain's own size — true
    with-replacement temperature sampling is the training loader's
    repeat-epoch concern, not the corpus builder's.

    Adds ``rate`` (double) and ``kept`` (boolean); filter on ``kept`` to
    materialize the mix. At 100 TB the plan is one thin count aggregate
    plus a broadcast hash join and a per-row hash — no wide shuffle.
    """
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_n"))
    weights = counts.withColumn("_w", F.pow(F.col("_n"), F.lit(float(alpha))))
    totals = weights.agg(
        F.sum("_w").alias("_sw"), F.sum("_n").alias("_tot")
    )
    rates = (
        weights.crossJoin(F.broadcast(totals))
        .withColumn(
            "rate",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(target_fraction))
                    * F.col("_tot") * F.col("_w") / F.col("_sw") / F.col("_n"),
                ),
                6,
            ),
        )
        .select(domain_col, "rate")
    )
    digest = F.md5(F.concat_ws("_", F.lit(salt), F.col(id_col).cast("string")))
    # fixed-width UPPERCASE hex compares lexicographically == numerically
    # ('0'-'9' < 'A'-'F' in ASCII); Spark hex() and DuckDB to_hex() both
    # emit uppercase, md5 emits lowercase — upper() aligns them.
    thresh = F.lpad(
        F.hex(F.floor(F.col("rate") * F.lit(float(16**8))).cast("long")),
        8, "0",
    )
    return df.join(F.broadcast(rates), domain_col).withColumn(
        "kept",
        (F.col("rate") >= 1.0)
        | (F.upper(F.substring(digest, 1, 8)) < thresh),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size word chunks with overlap — the
    standard pre-tokenization step for LLM training corpora. Pure
    built-ins (split → sequence → transform/slice → posexplode): chunks
    fan out on executors, one row per (doc, chunk), no Python.
    """
    stride = chunk_size - overlap
    words = split_words(text_col)
    n = F.size(words)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("int")
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunk_arrays = F.transform(
        idx, lambda i: F.slice(words, i * stride + 1, chunk_size)
    )
    out = df.select(
        F.col(id_col), F.posexplode(chunk_arrays).alias("chunk_idx", "chunk_words")
    )
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join("chunk_words", " ").alias("chunk_text"),
        F.size("chunk_words").cast("long").alias("chunk_tokens"),
    )


def pack_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    target_tokens: int = 512,
    partition_col: str | None = None,
    num_shards: int = 32,
    allow_global: bool = False,
) -> DataFrame:
    """Sequence packing: assign documents to context-window bins of
    ~``target_tokens`` by prefix-sum bucketing (bin = floor(tokens-before
    / target) over a deterministic document order). One window sum — no
    driver loop; bins can overflow by at most one document, the standard
    streaming-packing tradeoff.

    Safe by default at corpus scale: with no ``partition_col``, documents
    are sharded by an md5-derived key (deterministic, engine-portable) and
    packed per shard, so the window never serializes the corpus through one
    task; ``bin_id`` is made globally unique as ``shard * 2^40 + local_bin``.
    Pass ``allow_global=True`` only for inputs known to be small (exact
    single-sequence packing, used as the small-N oracle path)."""
    if target_tokens < 1:
        # bin = floor(cum/target): 0 divides to Infinity (silent
        # garbage bins), negatives invert the binning.
        raise ValueError(f"target_tokens must be >= 1, got {target_tokens}")
    if num_shards < 1:
        # pmod(x, 0) is null -> every doc lands in ONE null shard and
        # the window serializes the corpus through a single task.
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    from pyspark.sql import Window

    shard_col = None
    if partition_col is not None:
        base = Window.partitionBy(partition_col)
    elif allow_global:
        base = Window.partitionBy()
    else:
        shard_col = "_pack_shard"
        shard = F.pmod(
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("long"),
            F.lit(num_shards),
        )
        df = df.withColumn(shard_col, shard)
        base = Window.partitionBy(shard_col)
    w = base.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    local_bin = F.floor(cum_before / F.lit(float(target_tokens))).cast("long")
    if shard_col is None:
        return df.withColumn("bin_id", local_bin)
    return df.withColumn(
        "bin_id", (F.col(shard_col) * F.lit(1 << 40) + local_bin).cast("long")
    ).drop(shard_col)


PII_PATTERNS: dict[str, str] = {
    # RE2-safe (no backrefs/lookaround): portable across Spark and DuckDB.
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing for training corpora: regex-redact emails, phone
    numbers, and IPv4 addresses to typed placeholders, with per-document
    match counts for audit. Chained ``regexp_replace`` — JVM-side, one
    projection, no shuffle."""
    redacted = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(text_col, F.lit(f"({pat})")))
            .cast("long").alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), *counts, redacted.alias("redacted_text"))


def repetition_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Gopher-style repetition filter signal: the fraction of word
    ``n``-grams occupied by the single most frequent one. High values
    flag boilerplate/spam. explode → count per (doc, gram) → max ratio —
    two map-side-combined aggregates, scales with corpus size."""
    # explode-index+slice, not the _word_ngrams transform lambda:
    # higher-order functions are interpreted, not codegen (measured
    # 3.7x on the contamination gram pass, r10)
    words = split_words(text_col)
    idx = F.sequence(F.lit(1), F.size("_ws") - (n - 1))
    exploded = (
        df.withColumn("_ws", words)
        .filter(F.size("_ws") >= n)
        .select(F.col(id_col), F.explode(idx).alias("_i"), "_ws")
        .select(
            id_col,
            F.array_join(F.slice("_ws", F.col("_i"), n), " ").alias("gram"),
        )
    )
    per_gram = exploded.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.max("c").cast("long").alias("top_gram_count"),
        (F.max("c") / F.sum("c")).alias("top_gram_ratio"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 1
) -> DataFrame:
    """Per-document top-k TF-IDF terms (idf = ln(N / df), raw tf).

    Three shuffles, all map-side combined: tf per (doc, term), df per
    term, score + per-doc ranking window. The N scalar rides a broadcast
    cross-join — no collect on the data path.
    """
    from pyspark.sql import Window

    words = df.select(F.col(id_col), F.explode(split_words(text_col)).alias("term"))
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col, "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "tfidf",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def contamination_flags(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with an evaluation set (the standard n-gram-overlap
    contamination check run before LLM training). Returns one row per
    contaminated train doc: distinct shared grams + distinct eval docs
    hit.

    Shape at scale: explode both sides to (doc, gram) and equi-join on
    the gram — the same bucketed-join skeleton as LSH banding, never
    doc×doc. The eval side is benchmark-sized (thousands of docs), so its
    exploded gram table broadcast-joins against the corpus-sized train
    grams; count-distinct aggregates are map-side combined. Grams join as
    raw strings here for oracle transparency — at 100 TB hash them
    (``F.md5``) to fixed-width keys to shrink the shuffle, which cannot
    change the result beyond md5-collision odds.

    Gram generation is the explode-index+slice form (whole-stage
    codegen), not a ``transform`` lambda (higher-order functions are
    interpreted: measured 3.55 s vs 0.95 s for the train-side gram pass
    at sf0.1, r10), and per-doc grams are NOT pre-deduplicated: the
    count-DISTINCT aggregates already collapse duplicate (doc, gram)
    join rows, so a pre-distinct would add a full shuffle of the
    exploded grams (or a non-codegen array_distinct) for zero effect on
    the result.
    """

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        ws = split_words(text_col)
        idx = F.sequence(F.lit(1), F.size(ws) - (n - 1))
        return (
            df.withColumn("_ws", ws)
            .filter(F.size("_ws") >= n)
            .select(
                F.col(id_col).alias(out_id),
                F.explode(idx).alias("_i"),
                "_ws",
            )
            .select(
                out_id,
                F.array_join(F.slice("_ws", F.col("_i"), n), " ").alias(
                    "gram"
                ),
            )
        )

    tg = grams(train, "doc_id")
    eg = grams(eval_set, "eval_id")
    return (
        tg.join(F.broadcast(eg), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs_hit"),
        )
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-rule quality flags (Rae et al. 2021, "Scaling Language
    Models", App. A1.1): per-document booleans for the published filter
    rules that apply to whitespace text — word-count bounds, mean word
    length bounds, alphabetic-word fraction, and the must-contain-2-of-8
    stop-word rule — plus the combined keep decision. One projection +
    map-side expressions, no shuffle; every rule is portable ANSI SQL for
    the oracle."""
    words = split_words(text_col)
    n_words = F.size(words)
    norm_len = F.length(
        F.regexp_replace(
            normalize_whitespace(text_col),
            " ", "",
        )
    )
    mean_word_len = norm_len / n_words.cast("double")
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(words),
            _lit_str_array(GOPHER_STOPWORDS),
        )
    )
    flags = {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        "mean_word_len_ok": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "alpha_ratio_ok": n_alpha >= 0.8 * n_words,
        "stopword_ok": stop_hits >= 2,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


def shard_assignment(
    id_col: str, n_shards: int, salt: str = "shard-v1"
):
    """Deterministic training-shard assignment: a 24-bit md5 prefix mod
    ``n_shards``. Like ``train_test_split``'s bucketing, md5 makes the
    assignment engine-portable (the SQL oracle and any downstream loader
    recompute it exactly) and stable under re-runs, repartitioning, and
    incremental appends — a doc never migrates between shards.

    Returns (shard, _shuffle_key) columns: the full digest doubles as a
    deterministic pseudo-random intra-shard sort key, which is how a
    training pipeline gets a reproducible GLOBAL shuffle without a
    global sort — hash order is the shuffle."""
    digest = F.md5(F.concat_ws("_", F.lit(salt), F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(digest, 1, 6), 16, 10).cast("long") % n_shards)
    return shard.alias("shard"), digest.alias("_shuffle_key")


def dup_ngram_fraction(
    docs: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """Cross-document duplicated n-gram fraction — the doc-level signal
    behind exact-substring dedup (RefinedWeb §3.2 / C4's "three-sentence
    span" rule, re-expressed at word-n-gram granularity): for each doc,
    the share of its DISTINCT word n-grams that also occur in at least
    one other document. High dup_frac = boilerplate or near-copy.

    Plan: tokenize → explode the n-gram start indices and slice (no
    higher-order lambda, so the gram projection stays in codegen) →
    distinct (doc, gram) → per-gram doc-frequency via a window over
    gram → one agg per doc. Three shuffles, all on bounded pair sets.
    At 100 TB the gram STRING dominates shuffle bytes — ``hashed=True``
    is the scale path: the ~50-byte gram string is collapsed map-side to
    ``xxhash64(gram)`` (8 bytes) BEFORE the distinct + window shuffles,
    so shuffle volume drops by roughly the string/8 ratio (measured in
    SCALING.md §r10; collision odds ~n²/2⁶⁴ — a collision can only
    nudge one gram's doc-frequency, never corrupt the per-doc count).
    The graded form keeps the string so the DuckDB oracle is exact;
    equal results on collision-free corpora are pinned by
    tests/test_new_operators.py::test_hashed_gram_variants_match.

    Docs shorter than ``n`` tokens have no n-grams and drop out (same
    as the oracle's empty generate_series).
    """
    from pyspark.sql import Window

    toks = docs.select(id_col, F.split(F.col(text_col), " ").alias("_ts"))
    idx = F.sequence(F.lit(1), F.size("_ts") - (n - 1))
    gram_str = F.array_join(F.slice("_ts", F.col("_i"), n), " ")
    gram = F.xxhash64(gram_str) if hashed else gram_str
    grams = (
        toks.filter(F.size("_ts") >= n)
        .select(id_col, F.explode(idx).alias("_i"), "_ts")
        .select(id_col, gram.alias("gram"))
        .distinct()
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    dup = F.count(F.when(F.col("_nd") > 1, 1))
    return (
        grams.withColumn("_nd", nd)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(
                dup.cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
        )
    )


def bigram_logprob_scores(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """Statistical LM quality scoring WITHOUT an external model (the
    KenLM-perplexity-filter shape, self-trained): add-1-smoothed corpus
    bigram log-probs averaged per doc — low scores flag gibberish /
    off-distribution text. The corpus bigram table is the small
    intermediate; docs join to it on the bigram key (one equi-shuffle
    of doc bigrams), the unigram marginal comes from the BIGRAM table
    (never a second corpus pass), vocab is a 1-row broadcast.

    ``hashed=True`` is the 100 TB scale path: both words collapse
    map-side to ``xxhash64`` before every shuffle (model aggregate,
    unigram window, doc-bigram join), so the data-sized doc-bigram
    shuffle carries 16 bytes of key instead of two words (measured in
    SCALING.md §r10). Counts, smoothing, and the per-doc average are
    invariant under any injective recoding of the vocabulary, so the
    scores are identical absent 64-bit collisions (~vocab²/2⁶⁴);
    pinned by tests/test_new_operators.py::test_hashed_gram_variants_match.
    The graded query keeps strings so the DuckDB oracle is exact.
    """
    from pyspark.sql import Window

    toks = docs.select(id_col, F.split(F.col(text_col), " ").alias("ts"))
    idx = F.sequence(F.lit(1), F.size("ts") - 1)
    w1 = F.element_at("ts", F.col("i"))
    w2 = F.element_at("ts", F.col("i") + 1)
    if hashed:
        w1, w2 = F.xxhash64(w1), F.xxhash64(w2)
    bg = (
        toks.filter(F.size("ts") >= 2)
        .select(id_col, F.explode(idx).alias("i"), "ts")
        .select(id_col, w1.alias("w1"), w2.alias("w2"))
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    model = c12.withColumn(
        "c1", F.sum("c12").over(Window.partitionBy("w1"))
    )
    vocab = model.agg(F.count_distinct("w1").alias("vocab"))
    logp = F.log(
        (F.col("c12").cast("double") + 1)
        / (F.col("c1").cast("double") + F.col("vocab"))
    )
    return (
        # merge-pinned (r16): the docstring's shape — ONE equi-shuffle
        # of doc bigrams against the model — is what the planner must
        # not invert; at bench SF it was observed BROADCASTING the
        # exploded corpus bigram stream (BuildLeft) to probe it with
        # the model, a plan that cannot exist when the doc side is
        # data-proportional. The model side is vocab²-bounded but not
        # broadcastable at web scale either, so sort-merge on (w1, w2)
        # is the strategy that survives scale.
        bg.join(model.hint("merge"), ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.sum(logp) / F.count(F.lit(1)), 6).alias("avg_logprob"),
        )
    )


def nb_token_classifier_scores(
    docs: DataFrame,
    label_col: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained naive-Bayes token classifier — the fastText-style
    linear bag-of-words filter LLM curation pipelines run for language
    ID and quality scoring (CCNet, LLaMA data prep), with the model
    TRAINED IN-PLAN from a boolean ``label_col`` instead of loaded from
    an external artifact (same self-trained stance as the bigram LM).

    Model: per-token add-1-smoothed log-odds
    ``w_t = ln((c_pos+1)/(N_pos+V)) - ln((c_neg+1)/(N_neg+V))`` from one
    pass over the exploded corpus; class prior ``b = ln(n_pos/n_neg)``
    over docs. Score per doc = Σ w_t (with multiplicity) + b; predicted
    label = score > 0 (the exact NB decision rule).

    Plan shape at 100 TB: the vocab-sized token-count model is built in
    one exploded pass and PINNED with an eager localCheckpoint (the
    right thing to materialize — vocab-sized, not corpus-sized), so the
    global totals (N_pos, N_neg, V) come from the pinned table, not a
    second corpus pass; totals and the prior are embedded as literals
    (bounded driver state: 4 scalars — the benford/kl pattern, never a
    global window over the model table). Scoring is the corpus' second
    column-pruned scan joining the checkpointed model on the token key
    — the only data-sized shuffle (same profile as
    bigram_logprob_scores, and the same ``xxhash64``-the-key trick
    applies past ~1 TB). Σ of ~doc-length libm ln terms sits far inside
    the round-6 cross-engine seam budget (documented float-summation
    contract, like kl_source_drift).

    Contract: both classes must be non-empty (a one-class "training
    set" has no odds to learn; the prior literal degenerates).
    Training and scoring share the corpus here, so every scored token
    is in the model by construction; ``train_nb_token_model`` /
    ``score_nb_token_model`` split the two for the persisted-model
    serving path, where unseen tokens get the add-1 OOV log-odds.
    """
    model, params = train_nb_token_model(
        docs, label_col, text_col=text_col
    )
    return score_nb_token_model(
        docs, model, params, text_col=text_col, id_col=id_col
    )


def train_nb_token_model(
    docs: DataFrame,
    label_col: str,
    *,
    text_col: str = "text",
) -> tuple[DataFrame, dict]:
    """Train the NB token model: returns ``(model, params)`` where
    ``model`` is the PINNED vocab-sized (tok, w) log-odds table — a
    plain DataFrame, parquet-writable for reuse — and ``params`` holds
    the two JSON-able floats scoring needs: the class prior ``b`` and
    the add-1 OOV log-odds ``oov = ln((1/(N_pos+V))/(1/(N_neg+V)))``
    every token UNSEEN at training time contributes at serving time."""
    import math

    base = docs.filter(F.col(text_col).isNotNull())
    d = base.select(
        F.col(label_col).cast("boolean").alias("_y"),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    )
    tc = (
        d.groupBy("_tok")
        .agg(
            F.count(F.when(F.col("_y"), 1)).alias("_cp"),
            F.count(F.when(~F.col("_y"), 1)).alias("_cn"),
        )
        .localCheckpoint(eager=True)
    )
    tot = tc.agg(
        F.sum("_cp").alias("np"),
        F.sum("_cn").alias("nn"),
        F.count(F.lit(1)).alias("v"),
    ).first()
    np_v = float((tot["np"] or 0) + (tot["v"] or 0))
    nn_v = float((tot["nn"] or 0) + (tot["v"] or 0))
    pri = base.agg(
        F.log(
            F.count(F.when(F.col(label_col).cast("boolean"), 1))
            .cast("double")
            / F.count(F.when(~F.col(label_col).cast("boolean"), 1))
        ).alias("b")
    ).first()
    b = float(pri["b"]) if pri["b"] is not None else 0.0
    w_t = F.log(
        (F.col("_cp").cast("double") + 1) / F.lit(np_v)
    ) - F.log((F.col("_cn").cast("double") + 1) / F.lit(nn_v))
    model = tc.select(F.col("_tok").alias("tok"), w_t.alias("w"))
    oov = math.log(nn_v / np_v) if np_v and nn_v else 0.0
    return model, {"b": b, "oov": oov}


def score_nb_token_model(
    docs: DataFrame,
    model: DataFrame,
    params: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score docs against a (possibly persisted) NB token model: one
    column-pruned scan, a LEFT join on the token key (the only
    data-sized shuffle), unseen tokens coalesced to the OOV log-odds —
    so serving NEW corpora against yesterday's model is the same plan
    as self-scoring, never a retrain."""
    d = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    w = F.coalesce(F.col("w"), F.lit(float(params["oov"])))
    score = F.round(F.sum(w) + F.lit(float(params["b"])), 6)
    return (
        d.join(model, "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            score.alias("score"),
            # decide on the ROUNDED score: the raw sum is inside the
            # float-summation seam, so > on it could flip cross-engine
            (score > 0).alias("pred"),
        )
    )


def _cross_doc_dup_hits(
    toks: DataFrame,
    *,
    n: int,
    id_col: str,
    hashed: bool,
    with_ntokens: bool = False,
    strategy: str = "window",
) -> DataFrame:
    """Shared core of duplicate_token_spans / span_cut_corpus: from a
    (id, _ts token-array) frame, the positions of every n-gram that also
    occurs in at least one OTHER document. One codegen explode-index+
    slice gram projection (xxhash64-collapsed map-side when ``hashed``),
    then the cross-doc test, two plan strategies with identical output:

    - ``"window"`` (graded default — mirrors the oracle shape): per-gram
      min/max doc over a gram-partitioned window. ONE shuffle, but a HOT
      gram (site boilerplate repeated across millions of docs) lands
      every one of its hit rows in a single window partition — windows
      get no AQE skew mitigation.
    - ``"join"`` (the 100 TB skew path): groupBy(gram) min/max — the
      map-side partial agg collapses a hot gram to ONE row per task
      before the exchange — filter to DUPLICATED grams only (usually a
      small fraction of a clean corpus), then inner-join hits back.
      The join is AQE-skew-splittable and broadcastable when the dup
      set is small; equality with the window form is pinned by
      tests/test_new_operators.py::test_dup_hits_strategies_match and
      the skew measurement lives in SCALING.md §span-dedup.

    Returns (id_col, [_nt,] _i) rows; ``_nt`` (the doc's token count)
    is carried through when ``with_ntokens``.
    """
    from pyspark.sql import Window

    carry = [F.size("_ts").alias("_nt")] if with_ntokens else []
    idx = F.sequence(F.lit(1), F.size("_ts") - (n - 1))
    gram_str = F.array_join(F.slice("_ts", F.col("_i"), n), " ")
    gram = F.xxhash64(gram_str) if hashed else gram_str
    out_cols = [id_col, *(["_nt"] if with_ntokens else []), "_i"]
    hits = (
        toks.filter(F.size("_ts") >= n)
        .select(id_col, *carry, F.explode(idx).alias("_i"), "_ts")
        .select(*out_cols[:-1], "_i", gram.alias("_g"))
    )
    if strategy == "join":
        dup_grams = (
            hits.groupBy("_g")
            .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
            .filter(F.col("_mn") != F.col("_mx"))
            .select("_g")
        )
        return hits.join(dup_grams, "_g").select(*out_cols)
    wg = Window.partitionBy("_g")
    return (
        hits.withColumn("_mn", F.min(id_col).over(wg))
        .withColumn("_mx", F.max(id_col).over(wg))
        .filter(F.col("_mn") != F.col("_mx"))
        .select(*out_cols)
    )


def duplicate_token_spans(
    docs: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
    strategy: str = "window",
) -> DataFrame:
    """Exact duplicate-substring SPANS (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", re-expressed at word-
    n-gram granularity): for every document, the MAXIMAL token-index
    spans covered by n-grams that also occur in at least one OTHER
    document. ``dup_ngram_fraction`` answers "how much of this doc is
    duplicated"; this answers "WHICH contiguous passages" — the form a
    cut-the-span dedup pass actually consumes (the reference corpus
    curation keeps whole docs; span dedup is the finer-grained stretch).

    Plan (no N² anywhere): tokenize → explode n-gram start indices
    (codegen slice/array_join projection, same shape as
    dup_ngram_fraction) → cross-doc test per gram via min!=max doc id
    over a gram-partitioned window (ONE equi-shuffle on gram) → island
    merge per doc: a doc-partitioned running max of hit ends marks
    interval starts (overlap OR adjacency merges), a running sum numbers
    the islands, one groupBy collapses them. Every window is partitioned
    (gram, then doc) — never SinglePartition; pinned by
    tests/test_plans_and_io.py::test_duplicate_spans_plan.

    ``hashed=True`` is the 100 TB scale path: collapse the ~n*6-byte
    gram string to ``xxhash64`` map-side BEFORE the gram shuffle (span
    geometry is invariant under any injective recoding of grams; same
    argument as dup_ngram_fraction — pinned by
    tests/test_new_operators.py::test_duplicate_spans_hashed_matches).

    Docs with no cross-doc duplicated gram produce no rows (a span-cut
    pass only visits flagged docs); docs shorter than ``n`` tokens
    cannot be flagged. Outputs are exact integers plus one rounded
    int/int division — bit-identical cross-engine.
    """
    from pyspark.sql import Window

    toks = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("_ts")
    )
    dup = _cross_doc_dup_hits(
        toks, n=n, id_col=id_col, hashed=hashed, with_ntokens=True,
        strategy=strategy,
    ).withColumn("_e", F.col("_i") + (n - 1))
    wd = Window.partitionBy(id_col).orderBy("_i")
    prev_end = F.max("_e").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    isl = dup.withColumn(
        "_new",
        F.when(prev_end >= F.col("_i") - 1, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn(
        "_isl", F.sum("_new").over(wd.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = isl.groupBy(id_col, "_isl").agg(
        F.max("_nt").alias("_nt"),
        (F.max("_e") - F.min("_i") + 1).alias("_len"),
    )
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("_len").cast("long").alias("dup_tokens"),
        F.max("_len").cast("long").alias("longest_span"),
        F.round(
            F.sum("_len").cast("double") / F.max("_nt"), 6
        ).alias("dup_token_frac"),
    )


def bpe_pair_counts(
    docs: DataFrame,
    *,
    top: int = 25,
    text_col: str = "text",
) -> DataFrame:
    """One BPE training step's candidate scoring (Sennrich et al. 2016):
    corpus-wide frequencies of adjacent character pairs inside words —
    the pair a byte-pair-encoding tokenizer would merge next is the
    argmax. Token counting / chunking already exist as consumers of a
    FIXED tokenizer; this is the operator a pipeline needs to TRAIN one
    on its own corpus.

    Plan: explode words, explode in-word adjacent positions (codegen
    sequence/substring — the row count is the corpus character volume,
    the same order as every other gram pass), then ONE partial-agg
    groupBy whose key space is bounded by charset² (tiny), finished by
    TakeOrderedAndProject. Nothing driver-side; the full merge LOOP
    re-tokenizes per step and belongs to a driver iteration over this
    operator, same discipline as pagerank's fixed-count iterations.

    Returns ``top`` rows (pair, n) ordered (n desc, pair asc) —
    all-integer, hash-exact cross-engine.
    """
    w = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = w.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w"
    ).select(F.expr("substr(w, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top)
    )


# BPE symbol-string encoding: each symbol rendered as ' ' + sym + US.
# Space marks the symbol START (symbols are space-free by the split_words
# contract), US marks its END — so the literal pattern ' l<US> r<US>'
# can only match a genuine adjacent symbol pair (never the tail of a
# longer symbol, never a prefix: the US terminator pins r's end), and
# consecutive matches share no characters. Left-to-right non-overlapping
# replace() — the same semantics in Spark and DuckDB — is then EXACTLY
# greedy BPE merge application (Sennrich et al. 2016 re.sub without
# needing lookarounds, which DuckDB's RE2 lacks).
_BPE_US = "\x1f"


def _bpe_render_word(word_col, marker: str | None = None) -> F.Column:
    """word string -> initial symbol string (one char per symbol):
    'ab' -> ' a<US> b<US>'. One codegen regexp, identical shape in
    DuckDB (regexp_replace(w, '(.)', ' \\1<US>', 'g') — RE2's dot
    skips only \\n, which Java \\s+ normalization already removed, so
    the engines agree). The class is ``[\\s\\S]`` rather than ``.``
    because Java's dot skips ALL line terminators — a word carrying
    U+0085/U+2028/U+2029 (which \\s+ normalization does NOT strip)
    would pass through UNRENDERED and leak the US sentinel into
    decoded text (found by the hostile-unicode round-trip property
    test, r13). With ``marker`` (SentencePiece-style word-boundary
    symbol) the word is prefixed first, so the marker becomes the
    word's leading base symbol and merges can learn marker+char
    word-start units — the property that makes decode (concat
    symbols, marker -> space) exactly invert encode."""
    if marker is not None:
        word_col = F.concat(F.lit(marker), word_col)
    return F.regexp_replace(word_col, "([\\s\\S])", " $1" + _BPE_US)


def _bpe_parse_syms(s_col) -> F.Column:
    """symbol string -> array<string> of symbols (inverse of render):
    strip the leading space and trailing US, split on '<US> '."""
    trimmed = s_col.substr(F.lit(2), F.length(s_col) - 2)
    return F.split(trimmed, _BPE_US + " ")


def _bpe_word_freq(
    docs: DataFrame, text_col: str, marker: str | None = None
) -> DataFrame:
    """(w, cnt) word-frequency table — the ONE corpus pass BPE training
    needs; every iteration after it runs over this table, whose size is
    bounded by DISTINCT words, not corpus tokens. Words containing a
    reserved char (the US sentinel, or the boundary ``marker`` when one
    is in use — corrupt bytes, never natural text) are out of the
    training contract and filtered."""
    keep = (F.length("w") >= 1) & (~F.col("w").contains(_BPE_US))
    if marker is not None:
        keep = keep & (~F.col("w").contains(marker))
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(split_words(text_col)).alias("w"))
        .filter(keep)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _bpe_train_driver_loop(
    rows: "list[tuple[str, int]]", n_merges: int, min_count: int
) -> "list[tuple[int, str, str, str, int]]":
    """The below-gate BPE training loop over collected RENDERED (s, cnt)
    rows — pure string ops, no Spark jobs. Semantics are the distributed
    loop's, statement for statement: adjacent-pair counts weighted by
    cnt, argmax by (n desc, l asc, r asc) (Python str comparison is
    code-point order == UTF8String binary order), non-overlapping
    left-to-right str.replace (== F.replace), stop when the best count
    falls under ``min_count``. Rendering stays SPARK-SIDE (the rows
    arrive pre-rendered), so there is no render-parity seam between the
    two paths — path equality is pinned by pytest."""
    us = _BPE_US
    state = [(s, int(c)) for s, c in rows]
    merges: list[tuple[int, str, str, str, int]] = []
    for k in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for s, cnt in state:
            syms = s[1:-1].split(us + " ")
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        (lft, rgt), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_count:
            break
        merges.append((k, lft, rgt, lft + rgt, n))
        find = " " + lft + us + " " + rgt + us
        repl = " " + lft + rgt + us
        state = [(s.replace(find, repl), cnt) for s, cnt in state]
    return merges


# bpe_train's driver gate: distinct-word tables at or under this many
# rows train on the driver (_bpe_train_driver_loop).
_BPE_DRIVER_WORDS = 65_536
# Merges between eager checkpoints of bpe_train's distributed state.
_BPE_CHECKPOINT_EVERY = 4


def bpe_train(
    docs: DataFrame,
    *,
    n_merges: int = 16,
    min_count: int = 2,
    text_col: str = "text",
    marker: str | None = None,
) -> DataFrame:
    """Iterative BPE tokenizer TRAINING (Sennrich et al. 2016): start
    from characters, then ``n_merges`` times (a) count corpus-wide
    adjacent symbol pairs weighted by word frequency, (b) merge the
    most frequent pair (ties: count desc, left asc, right asc —
    deterministic cross-engine) greedily left-to-right in every word.
    ``bpe_pair_counts`` mines ONE round of candidates; this applies the
    top merge and re-counts N times — the loop a real tokenizer
    pipeline runs. Default has no boundary symbol (GPT-style word
    pretokenization via split_words; words never merge across boundaries);
    pass ``marker`` (a reserved char) for the SentencePiece-style
    word-start symbol that makes ``bpe_decode`` a lossless inverse.

    Scale discipline (the pagerank/LPA iterative playbook): the corpus
    is scanned ONCE into the (word, cnt) table — every iteration after
    that runs over distinct words, not tokens. The eagerly-checkpointed
    state is re-checkpointed every ``_BPE_CHECKPOINT_EVERY`` merges (dead
    checkpoints released via gc — the measured 2x late-iteration trap);
    between checkpoints the pending merges ride as chained codegen
    replace() projections. The per-iteration argmax is a 1-ROW collect
    — bounded, and inherent to BPE's sequential dependence (merge k+1's
    counts depend on merge k having been applied). Pair counting is a
    map-side-partial groupBy keyed on (l, r): bounded by the live
    symbol-pair space. Stops early when the best pair's count falls
    below ``min_count`` (a merge seen once generalizes to nothing).

    Driver gate ``_BPE_DRIVER_WORDS`` (the incremental_dedup_groups
    probe-gate pattern): after the one corpus pass, if the
    DISTINCT-WORD count is at or under the gate, the rendered (s, cnt) rows are collected and
    the loop runs on the driver as pure string ops — zero jobs per
    merge instead of a shuffle + 1-row collect per merge (the loop's
    wall is ~all fixed job overhead at small vocab tables). The
    collect is vocabulary-bounded by construction (the gate), the
    merge table returned is IDENTICAL (path-equality pytest), and at
    100 TB a web-scale distinct-word table exceeds any sane gate so
    the distributed loop below is the path that runs.

    Returns the ordered merge table (merge_rank, left_sym, right_sym,
    merged, n) — all strings/ints, hash-exact cross-engine.
    """
    import gc

    spark = docs.sparkSession
    state = _bpe_word_freq(docs, text_col, marker).select(
        _bpe_render_word(F.col("w"), marker).alias("s"), "cnt"
    )
    # the gate probe runs on the UNPINNED state (the r16 CC-gate
    # job-floor trim): a LIMIT that comes back short exhausted its
    # input, so on the gated path the probe DECIDES and DELIVERS in one
    # job. Any pin before it costs the gated path a job that
    # materialises state it never reads again (a lazy pin's completion
    # job). Only the distributed path pins, eagerly, before its
    # per-merge loop; that pin re-runs the word-count pass the probe
    # ran, once per training.
    probe = state.limit(_BPE_DRIVER_WORDS + 1).collect()
    if len(probe) <= _BPE_DRIVER_WORDS:
        rows = [(r["s"], r["cnt"]) for r in probe]
        return _bpe_merge_frame(
            spark, _bpe_train_driver_loop(rows, n_merges, min_count)
        )
    state = state.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, str, int]] = []
    for k in range(1, n_merges + 1):
        pairs = (
            state.select("cnt", _bpe_parse_syms(F.col("s")).alias("ls"))
            .filter(F.size("ls") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(ls) - 1),"
                        " i -> struct(ls[i - 1] AS l, ls[i] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
        )
        top = pairs.orderBy(
            F.col("n").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1).collect()
        if not top or int(top[0]["n"]) < min_count:
            break
        lft, rgt, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((k, lft, rgt, lft + rgt, n))
        find = " " + lft + _BPE_US + " " + rgt + _BPE_US
        repl = " " + lft + rgt + _BPE_US
        state = state.select(
            F.replace(F.col("s"), F.lit(find), F.lit(repl)).alias("s"),
            "cnt",
        )
        if k % _BPE_CHECKPOINT_EVERY == 0 and k < n_merges:
            state = state.localCheckpoint(eager=True)
            # release the superseded checkpoint's blocks now (pagerank
            # discipline: late iterations otherwise pay 2x)
            gc.collect()
    return _bpe_merge_frame(spark, merges)


def bpe_apply_merges(
    words: DataFrame,
    merge_rows: list,
    *,
    word_col: str = "w",
    marker: str | None = None,
) -> DataFrame:
    """Segment each word into BPE symbols by applying ``merge_rows``
    (ordered (left_sym, right_sym) pairs from ``bpe_train``) in rank
    order. Sequential rank-order application equals the rank-priority
    encoder for WELL-FORMED merge tables (every merge's operands are
    base characters or earlier merges' outputs — true of any table
    bpe_train produces), because a later merge can never create an
    adjacency an earlier merge would have consumed.

    The whole chain is ONE projection of nested codegen replace()
    calls — no shuffle, no UDF — exact and cheapest at the merge-table
    sizes an in-plan trainer produces, but bounded by what Catalyst
    can compile. The production-vocab forms are
    ``bpe_apply_merges_fold`` (one constant-size runtime expression)
    and ``bpe_apply_merges_arrow`` (the serving seam); ``bpe_encode``
    routes between the three on merge count (``_bpe_segment``), so no
    caller needs to know the ceiling. Returns (word_col, syms
    array<string>).
    """
    col = _bpe_render_word(F.col(word_col), marker)
    for m in merge_rows:
        lft, rgt = m["left_sym"], m["right_sym"]
        col = F.replace(
            col,
            F.lit(" " + lft + _BPE_US + " " + rgt + _BPE_US),
            F.lit(" " + lft + rgt + _BPE_US),
        )
    return words.select(word_col, _bpe_parse_syms(col).alias("syms"))


def bpe_apply_merges_fold(
    words: DataFrame,
    merge_rows: list,
    *,
    word_col: str = "w",
    marker: str | None = None,
) -> DataFrame:
    """The JVM-only production-depth merge applier (r16): fold the
    rendered symbol string over a BROADCAST array of (find, repl)
    pairs — ``aggregate(_marr, _s, (acc, m) -> replace(acc, m.f,
    m.r))`` — one constant-size projection at ANY merge depth.

    It owns the JVM-only mid band. It replaced the checkpointed staged
    applier (since deleted; SCALING §bpe-staged), whose per-stage
    plan/optimize/codegen cost was FIXED driver overhead (~245 ms per
    stage over a 31-row word table) plus one word-table
    materialization per stage. The fold moves the merge chain from
    COMPILE-TIME unrolling to a RUNTIME loop over an array column:
    plan size is constant in merge count, there are no checkpoints,
    and no ANTLR / JVM-stack depth ceiling exists because the merge
    table is DATA (one broadcast row), not code. Measured (noop sink,
    quiet box) against the staged form: 31 words x 2048 merges 0.46 s
    vs 3.93 s; 20k words 2.95 s vs 5.05 s; 100k words 4.37 s vs
    6.36 s. The Arrow applier stays ~25-40% faster at depth >= 2048
    on real vocab tables (vectorized pandas replace vs per-element
    interpreted HOF), so the router hands production depth to arrow.
    Output identical by construction (same ordered replaces; pinned
    by the applier-equality test and the shared recursive-CTE
    oracle)."""
    pairs = [
        (
            " " + m["left_sym"] + _BPE_US + " " + m["right_sym"] + _BPE_US,
            " " + m["left_sym"] + m["right_sym"] + _BPE_US,
        )
        for m in merge_rows
    ]
    marr = local_frame(
        words.sparkSession,
        [(pairs,)],
        "_marr array<struct<f:string,r:string>>",
    )
    rendered = words.select(
        word_col, _bpe_render_word(F.col(word_col), marker).alias("_s")
    )
    return rendered.join(F.broadcast(marr)).select(
        word_col,
        _bpe_parse_syms(
            F.expr("aggregate(_marr, _s, (acc, m) -> replace(acc, m.f, m.r))")
        ).alias("syms"),
    )


def bpe_apply_merges_arrow(
    words: DataFrame,
    merge_rows: list,
    *,
    word_col: str = "w",
    marker: str | None = None,
) -> DataFrame:
    """The SERVING-path merge applier (VERDICT r11 #1): an
    Arrow-batched ``mapInPandas`` that applies the ordered merges as
    vectorized literal replaces on the rendered symbol string — the
    same algorithm as the declarative appliers, executed in pandas, so
    output is identical by construction for ANY merge table (pinned by
    test + the shared graded oracle). Use when the merge table is past
    the fold's band or when embedding a real tokenizer library at this
    seam; the merge list rides the task
    closure (it IS the vocabulary — bounded), each executor segments
    its partition of the DISTINCT-words table independently, no
    shuffle."""
    reps = [
        (
            " " + m["left_sym"] + _BPE_US + " " + m["right_sym"] + _BPE_US,
            " " + m["left_sym"] + m["right_sym"] + _BPE_US,
        )
        for m in merge_rows
    ]
    prefix = marker if marker is not None else ""
    us = _BPE_US

    def seg_batches(batches):
        for pdf in batches:
            w = pdf[word_col]
            # render: 'ab' -> ' a<US> b<US>' (marker prefixes the word
            # first) — mirrors _bpe_render_word, which renders EVERY
            # char via [\s\S] (r13: Java dot skipped the Unicode line
            # terminators U+0085/U+2028/U+2029 that \s+ normalization
            # does not strip, leaking the US sentinel into decode;
            # the match-all class keeps the three appliers identical
            # by construction AND the round-trip lossless).
            s = (prefix + w).str.replace(
                "([\\s\\S])", " \\1" + us, regex=True
            )
            for find, repl in reps:
                s = s.str.replace(find, repl, regex=False)
            # parse: strip leading space / trailing US, split on '<US> '
            # — mirrors _bpe_parse_syms
            syms = s.str.slice(1, -1).str.split(us + " ")
            yield w.to_frame(word_col).assign(syms=syms)

    return words.select(word_col).mapInPandas(
        seg_batches, schema=f"{word_col} string, syms array<string>"
    )


# Merge-count bands of the three appliers (SCALING §crossover and
# §project-fold). The project/fold crossover moves with the word
# table: on a 20k-word vocabulary the single nested-replace projection
# beats the fold by 25-40% at every depth through 384 merges, while on
# a 31-word one the fold wins from ~96 (plan/codegen cost dominates, at
# most ~0.45 s a call at 256). 256 keeps real vocabularies on the
# projection. Past _BPE_ARROW_CROSSOVER the Arrow applier wins by
# ~25-40% at real vocab sizes (20k words x 2048 merges: 1.68 s vs
# 2.95 s; 100k: 3.89 s vs 4.37 s), and the gap grows with depth (8192
# merges at 100k words: 10.2 s vs 14.4 s): pandas' vectorized replace
# beats the fold's per-element interpreted HOF step once the word
# table is real.
_BPE_PROJECT_MAX = 256
_BPE_ARROW_CROSSOVER = 2048


def _bpe_segment(
    words: DataFrame, merge_rows: list, marker: str | None
) -> DataFrame:
    """Segment ``words`` with the applier that wins at this merge
    count. All three are output-identical by construction (the same
    ordered replaces), so the choice is cost only."""
    if len(merge_rows) <= _BPE_PROJECT_MAX:
        return bpe_apply_merges(words, merge_rows, marker=marker)
    if len(merge_rows) <= _BPE_ARROW_CROSSOVER:
        return bpe_apply_merges_fold(words, merge_rows, marker=marker)
    return bpe_apply_merges_arrow(words, merge_rows, marker=marker)


def _bpe_merge_rows(merges: DataFrame) -> "list[dict]":
    """The merge table's rows as dicts in rank order. Merge tables are
    bounded (they ARE the vocabulary). Producers that already hold the
    rows on the driver (bpe_grid_merge_table, bpe_train's gated loop,
    local artifact reads) attach them as ``_bpe_local_rows`` — reading
    that skips a py4j round-trip that measured ~0.3 s at 2048 rows.
    Otherwise collect UNORDERED and sort on the driver: .orderBy
    before .collect plans a range-partitioned sort — a sampling job
    plus a sort job (measured 0.57 s on a 2048-row LOCAL relation) to
    order rows the driver sorts in microseconds."""
    local_rows = getattr(merges, "_bpe_local_rows", None)
    rows = (
        [dict(m) for m in local_rows]
        if local_rows is not None
        else [r.asDict() for r in merges.collect()]
    )
    return sorted(rows, key=lambda m: m["merge_rank"])


def _bpe_vocab_frame(
    spark,
    merge_rows: "list[dict]",
    alphabet: DataFrame | None,
    *,
    words: DataFrame | None = None,
    marker: str | None = None,
) -> DataFrame:
    """The (sym, id) vocabulary, built ON THE DRIVER and re-entered as
    a local relation — the one id policy encode and decode share.
    Both inputs are bounded: the alphabet by charset size, the merge
    table by construction. Base symbols sorted asc get 0..A-1 (Python
    ``sorted`` == UTF8String binary order, the _bpe_train_driver_loop
    parity argument); merge k's output gets A+k-1; a duplicate sym
    keeps the LOWEST id (ADVICE r11: 'a'+'bc' and 'ab'+'c' both emit
    'abc', and a second row would fan out the sym-keyed encode join;
    alpha beats merges, earlier rank beats later).

    Base symbols come from, in order: ``alphabet``'s driver-side
    ``_bpe_local_syms`` (a local artifact read — no job), a collect of
    ``alphabet``, or — with no alphabet, the self-encode shape — the
    rendered symbols of ``words`` (w). The local relation keeps the
    consumer's plan free of the alphabet's lineage (the r11
    .explain-audit lesson: 6 parquet scans -> 1)."""
    local_syms = getattr(alphabet, "_bpe_local_syms", None)
    if local_syms is not None:
        base_syms = set(local_syms)
    elif alphabet is not None:
        base_syms = {
            r["sym"] for r in alphabet.select("sym").distinct().collect()
        }
    else:
        base_syms = {
            r["sym"]
            for r in words.select(
                F.explode(
                    _bpe_parse_syms(_bpe_render_word(F.col("w"), marker))
                ).alias("sym")
            )
            .distinct()
            .collect()
        }
    ids = {s: i for i, s in enumerate(sorted(base_syms))}
    n_alpha = len(ids)
    for m in merge_rows:
        ids.setdefault(m["merged"], n_alpha + int(m["merge_rank"]) - 1)
    return local_frame(spark, list(ids.items()), "sym string, id long")


def bpe_alphabet(
    docs: DataFrame,
    *,
    text_col: str = "text",
    marker: str | None = None,
) -> DataFrame:
    """Distinct characters of the corpus's words — the base-symbol half
    of a BPE vocabulary, fixed at TRAINING time (with ``marker``, the
    marker char joins the alphabet as every word's leading symbol). One
    explode + distinct over the word table (bounded by charset size).
    Returns (sym)."""
    return (
        _bpe_word_freq(docs, text_col, marker)
        .select(
            F.explode(
                _bpe_parse_syms(_bpe_render_word(F.col("w"), marker))
            ).alias("sym")
        )
        .distinct()
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_id: int = -1,
    alphabet: DataFrame | None = None,
    marker: str | None = None,
) -> DataFrame:
    """Tokenizer-apply with LEARNED MERGES (subword segmentation) — the
    step between ``bpe_train`` and ``sequence_packing`` a pretraining
    pipeline runs on every document, where ``encode_token_ids`` only
    looked whole words up in a fixed vocab.

    Segmentation picks its applier from the merge count alone
    (``_bpe_segment``): the single nested-replace projection up to
    ``_BPE_PROJECT_MAX`` merges, the broadcast-array fold up to
    ``_BPE_ARROW_CROSSOVER``, the Arrow applier beyond — all
    output-identical, so the path extends to production vocabulary
    sizes at the measured-best cost.

    Ids: base alphabet (``alphabet`` = the TRAINING corpus's
    ``bpe_alphabet``; ids must be stable across encoded corpora, so
    pass it whenever encoding anything but the training corpus itself —
    None derives it from ``docs``, the self-encode shape) sorted asc
    gets 0..A-1; merge k's output symbol gets A+k-1 — deterministic and
    replayable from the merge table + alphabet alone (``bpe_vocab``).
    Symbols outside the vocab (characters unseen at train time) map to
    ``oov_id``.

    Scale shape: merges are collected ONCE (a merge table is bounded by
    construction — it IS the vocabulary); each DISTINCT word is
    segmented once and joined back to the corpus token stream keyed by
    word (hot common words skew the join — AQE skew-split territory;
    the join output is per-token either way). The per-doc rebuild is
    the span_cut_corpus ordered array pattern: one doc-keyed shuffle.
    Returns (id_col, n_tokens, n_syms, ids_str) — ids_str space-joined
    per the FIXTURES array rule, ordered by (word position, symbol
    position).
    """
    merge_rows = _bpe_merge_rows(merges)
    keep = (F.length("w") >= 1) & (~F.col("w").contains(_BPE_US))
    if marker is not None:
        keep = keep & (~F.col("w").contains(marker))
    tok = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, F.posexplode(split_words(text_col)).alias("pos", "w")
    ).filter(keep)
    # checkpointed ONCE (bounded by vocabulary size): the word table
    # feeds both the segmentation and the derived alphabet — without
    # the pin each consumer re-derives it from the corpus (an .explain
    # audit showed TWO extra full scans + distinct shuffles)
    words = tok.select("w").distinct().localCheckpoint(eager=True)
    seg = _bpe_segment(words, merge_rows, marker)
    vocab = _bpe_vocab_frame(
        docs.sparkSession, merge_rows, alphabet, words=words, marker=marker
    )
    wid = (
        seg.select("w", F.posexplode("syms").alias("spos", "sym"))
        .join(F.broadcast(vocab), "sym", "left")
        .groupBy("w")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(spos, id)))"
                ", x -> x.id)"
            ).alias("_ids"),
            F.count(F.lit(1)).cast("long").alias("_n_syms"),
        )
        .select(
            "w",
            F.expr(
                f"transform(_ids, x -> coalesce(x, {int(oov_id)}L))"
            ).alias("_ids"),
            "_n_syms",
        )
    )
    # Scale-adaptive build side for the token join (r16): the planner's
    # size estimate for wid (post-explode, post-agg, checkpoint-rooted)
    # is garbage, and it was observed picking BuildLeft — collecting
    # and BROADCASTING the 270k-row corpus TOKEN stream to probe it
    # with 31 words. When the materialized word table is provably small
    # (one metadata-cheap count over the eager checkpoint), pin wid as
    # the broadcast side; past the gate (a web-scale distinct-word
    # table — 100M+ rows, far over any broadcast budget) leave the
    # planner on the shuffle join the docstring's skew note assumes.
    # Gate: 2M words x ~100 B/row (word + ids array) ≈ 200 MB built
    # relation — inside executor memory at any deployment size.
    wid_side = F.broadcast(wid) if words.count() <= 2_000_000 else wid
    return (
        tok.join(wid_side, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("_n_syms").cast("long").alias("n_syms"),
            F.array_join(
                F.flatten(
                    F.expr(
                        "transform(array_sort(collect_list("
                        "struct(pos, _ids))), x -> x._ids)"
                    )
                ).cast("array<string>"),
                " ",
            ).alias("ids_str"),
        )
    )


def bpe_vocab(alphabet: DataFrame, merges: DataFrame) -> DataFrame:
    """(sym, id) vocabulary shared by encode and decode: base alphabet
    symbols id'd 0..A-1 by sort order, merge k's output symbol id'd
    A+k-1, each sym once at its LOWEST id. Deterministic and
    replayable from (alphabet, merges) alone; built on the driver as a
    local relation (see ``_bpe_vocab_frame``)."""
    return _bpe_vocab_frame(
        merges.sparkSession, _bpe_merge_rows(merges), alphabet
    )


def bpe_grid_merge_table(
    docs: DataFrame,
    *,
    max_merges: int = 2048,
    text_col: str = "text",
    marker: str | None = None,
) -> DataFrame:
    """Deterministic PRODUCTION-SIZE merge table without iterative
    training — the fixture that lets the fold/arrow appliers be
    graded at a real vocabulary depth (VERDICT r11 #1: in-plan
    ``bpe_train`` is bounded by its per-round driver argmax, and the
    graded corpus's 31-word vocabulary exhausts after ~100 learnable
    merges, so a 2k+ table must be CONSTRUCTED, not trained): rank the
    corpus alphabet asc, then emit every char pair (A[i], A[j]) in
    (i, j) order, then every triple ((A[i]A[j]), A[k]) in (i, j, k)
    order, capped at ``max_merges``.

    WELL-FORMED by construction (a triple's left operand is the output
    of an earlier pair merge), so rank-order sequential application is
    a genuine greedy segmenter: after the pair tier every word is
    chunked into rank-greedy 2-char symbols, and the triple tier
    extends chunks where its adjacencies survive — real per-merge work
    for the appliers, exactly replayable in SQL.

    The grid is built ON THE DRIVER from the collected alphabet (r16):
    both inputs are bounded — the alphabet by charset size, the output
    by ``max_merges`` (the 32k regime at most) — so the former
    crossJoin + rank-window Spark pipeline was pure scheduling
    overhead: an eager checkpoint, a count and a windowed collect
    (3 driver-synchronous jobs) to enumerate a list the driver can
    produce in microseconds. One job remains (collecting the
    alphabet, the only part that reads the corpus); emission order is
    the identical (tier, i1, i2, i3) prefix — pairs in (i1, i2) order,
    then triples — with aid = 1-based rank of the symbol in UTF8
    binary ascending order (Python ``sorted`` compares by code point,
    which equals UTF8String's byte order — the _bpe_train_driver_loop
    parity argument). Candidate production is O(max_merges), never
    O(|A|³): iteration stops at the cap. Returns the bpe_train schema
    (merge_rank, left_sym, right_sym, merged, n) with n = 0 (no
    training count exists for a constructed merge).
    """
    alpha = sorted(
        r["sym"]
        for r in bpe_alphabet(
            docs, text_col=text_col, marker=marker
        ).collect()
    )
    rows: list[tuple[int, str, str, str, int]] = []
    rank = 0
    for s1 in alpha:
        for s2 in alpha:
            if rank >= max_merges:
                break
            rank += 1
            rows.append((rank, s1, s2, s1 + s2, 0))
        if rank >= max_merges:
            break
    if rank < max_merges:
        for s1 in alpha:
            for s2 in alpha:
                for s3 in alpha:
                    if rank >= max_merges:
                        break
                    rank += 1
                    rows.append((rank, s1 + s2, s3, s1 + s2 + s3, 0))
                if rank >= max_merges:
                    break
            if rank >= max_merges:
                break
    return _bpe_merge_frame(docs.sparkSession, rows)


# Fingerprint format version written to artifact meta. v1 (pre-r13,
# implicit — metas carry no fp_version field) hashed merges over
# (merge_rank, left_sym, right_sym, merged); v2 adds the `n` column so
# a count edit can't slip past verification. Readers accept both: a
# meta without fp_version verifies against the v1 recipe, so artifacts
# persisted by pre-change code stay loadable (ADVICE r13).
_BPE_FP_VERSION = 2


def _bpe_artifact_fingerprint(
    merges: DataFrame, alphabet: DataFrame, *, fp_version: int = _BPE_FP_VERSION
) -> "tuple[str, int, int]":
    """(content_hash, n_merges, alphabet_size) — an order-free digest
    of the two vocabulary-bounded tables (count + decimal sum of
    xxhash64 per table, the two-phase-components fingerprint pattern;
    decimal absorbs int64 overflow under ANSI mode). Two bounded
    1-row aggregates, never a corpus pass."""
    import hashlib

    merge_hash_cols = ["merge_rank", "left_sym", "right_sym", "merged"]
    if fp_version >= 2:
        merge_hash_cols.append("n")
    m_agg = merges.agg(
        F.count(F.lit(1)).cast("long").alias("mn"),
        F.coalesce(
            F.sum(
                F.xxhash64(*merge_hash_cols).cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("mh"),
    )
    a_agg = alphabet.select("sym").agg(
        F.count(F.lit(1)).cast("long").alias("an"),
        F.coalesce(
            F.sum(F.xxhash64("sym").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("ah"),
    )
    # one driver-synchronous job for both 1-row aggregates (r16: the
    # two separate .first() calls each paid the local job floor; a
    # cross join of two single-row aggregates computes the identical
    # four values in one action)
    r = m_agg.crossJoin(a_agg).first()
    digest = hashlib.md5(
        f"{int(r.mn)}|{int(r.mh)}|{int(r.an)}|{int(r.ah)}".encode()
    ).hexdigest()
    return digest, int(r.mn), int(r.an)


def bpe_write_tokenizer(
    merges: DataFrame,
    alphabet: DataFrame,
    path: str,
    *,
    marker: str | None = None,
) -> None:
    """Persist the trained tokenizer as a parquet ARTIFACT (VERDICT r11
    #2 — the ann_index build/write/read/probe economics applied to the
    tokenizer): production encodes from a saved tokenizer, it does not
    re-train in-query. Layout: ``<path>/merges`` (the ordered merge
    table), ``<path>/alphabet`` (the TRAINING corpus's base symbols —
    ids must be stable across encoded corpora, so the alphabet is part
    of the artifact, not re-derived at encode time), ``<path>/meta``
    (one row: the boundary marker — NULL for the GPT-style shape —
    plus the integrity fields VERDICT r12 #5 asked for: merge count,
    alphabet size, and an order-free content hash over both tables,
    verified on read). Both tables are vocabulary-bounded →
    coalesce(1) single-file writes. Staleness contract: like the ANN
    index, the artifact encodes any corpus but reflects its training
    corpus — characters unseen at train time encode as oov_id
    (counted, never guessed); ``tokenizer_staleness`` turns the
    encoded OOV counts into the retrain trigger."""
    spark = merges.sparkSession
    content_hash, n_merges, alphabet_size = _bpe_artifact_fingerprint(
        merges, alphabet
    )
    merges.orderBy("merge_rank").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + "/merges")
    alphabet.select("sym").coalesce(1).write.mode("overwrite").parquet(
        path + "/alphabet"
    )
    local_frame(
        spark,
        [(marker, n_merges, alphabet_size, content_hash, _BPE_FP_VERSION)],
        "marker string, n_merges long, alphabet_size long,"
        " content_hash string, fp_version long",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")


# canonical artifact table layouts (what bpe_write_tokenizer persists);
# the driver-side fast path only engages when the on-disk columns match
_BPE_MERGES_SCHEMA = (
    "merge_rank long, left_sym string, right_sym string,"
    " merged string, n long"
)
_BPE_MERGES_COLS = [f.split()[0] for f in _BPE_MERGES_SCHEMA.split(", ")]


def _bpe_merge_frame(
    spark, rows: "list[tuple[int, str, str, str, int]]"
) -> DataFrame:
    """A merge table over driver-side rows, tagged with those rows as
    ``_bpe_local_rows`` so ``_bpe_merge_rows`` skips its py4j collect."""
    mdf = local_frame(spark, rows, _BPE_MERGES_SCHEMA)
    mdf._bpe_local_rows = [dict(zip(_BPE_MERGES_COLS, r)) for r in rows]
    return mdf


def _bpe_read_tokenizer_local(path: str) -> "tuple[list, list, dict] | None":
    """Driver-side read of the tokenizer artifact's ROWS (the ann_index
    ``_bounded_rows`` economics, guide §5): all three tables are
    bounded by construction — merges by the vocabulary, alphabet by
    the charset, meta is one row — so when the artifact lives on the
    local filesystem, pyarrow reads them in milliseconds where the
    downstream py4j collects (the merge-table and alphabet
    collects, the meta read) each pay a Spark job. Returns
    (merge_row_dicts, alphabet_syms, meta_dict) or None — callers fall
    back to the Spark reads — for non-local URIs, unreadable/garbled
    files, or a non-canonical column layout.

    Not used to build the returned DataFrames: they stay parquet-backed,
    so the integrity check fingerprints the tables Spark reads rather
    than a driver copy of them, and only the driver-side row copies
    ride along as ``_bpe_local_rows`` / ``_bpe_local_syms`` tags (same
    files, same rows — the artifact is immutable once fingerprinted)."""
    import os

    if not all(
        os.path.isdir(os.path.join(path, d))
        for d in ("merges", "alphabet", "meta")
    ):
        return None
    try:
        import pyarrow.parquet as pq

        merge_rows = pq.read_table(path + "/merges").to_pylist()
        alpha_rows = pq.read_table(path + "/alphabet").to_pylist()
        meta_rows = pq.read_table(path + "/meta").to_pylist()
    except (OSError, ValueError):
        return None
    if merge_rows and sorted(merge_rows[0]) != sorted(_BPE_MERGES_COLS):
        return None
    if alpha_rows and "sym" not in alpha_rows[0]:
        return None
    return (
        [{c: r[c] for c in _BPE_MERGES_COLS} for r in merge_rows],
        [r["sym"] for r in alpha_rows],
        meta_rows[0] if meta_rows else {},
    )


def bpe_read_tokenizer(
    spark, path: str, *, verify: bool = True
) -> "tuple[DataFrame, DataFrame, str | None]":
    """Load a persisted tokenizer artifact: (merges, alphabet, marker).
    Feed straight into ``bpe_encode(docs, merges, alphabet=alphabet,
    marker=marker)`` — byte-identical to encoding with the in-query
    training chain (graded: bpe_encode_from_artifact /
    bpe_encode_xcorpus_artifact).

    For local artifacts the bounded rows are ALSO read driver-side
    (``_bpe_read_tokenizer_local``) and attached to the returned
    parquet-backed frames as ``_bpe_local_rows`` / ``_bpe_local_syms``,
    so the meta read costs no Spark job and ``bpe_encode`` skips its
    merge-table and alphabet collects. Non-local URIs and any
    local-read surprise take the Spark reads for everything.

    ``verify`` (default on, VERDICT r12 #5): recompute the content
    fingerprint from the loaded tables and check it — plus the merge
    count and alphabet size — against the meta written at save time,
    raising ValueError on any mismatch (a torn write, a hand-edited
    table, or mixed artifact generations would otherwise silently
    shift every token id downstream). Costs one bounded 1-row
    aggregate job over the two vocabulary-sized tables. Legacy
    artifacts whose meta predates the integrity fields load unverified
    (same grace as index_staleness's pre-counter metas)."""
    # r17 (guide §5, the r16 band-table §9 form): the two bounded-table
    # reads each ran a schema-inference job before the first action;
    # for LOCAL artifacts the schema comes from the artifact's own
    # parquet footer on the driver (~ms, 0 jobs) and follows whatever
    # types the artifact was written with. Non-local URIs keep the
    # inferred read.
    from ..sources.readers import load_parquet_footer_schema

    merges = load_parquet_footer_schema(spark, path + "/merges")
    alphabet = load_parquet_footer_schema(spark, path + "/alphabet")
    local = _bpe_read_tokenizer_local(path)
    if local is not None:
        merge_rows, syms, meta = local
        merges._bpe_local_rows = merge_rows  # type: ignore[attr-defined]
        alphabet._bpe_local_syms = syms  # type: ignore[attr-defined]
    else:
        meta_rows = spark.read.parquet(path + "/meta").collect()
        meta = meta_rows[0].asDict() if meta_rows else {}
    marker = meta.get("marker")
    if verify and meta.get("content_hash") is not None:
        _bpe_verify_artifact(merges, alphabet, meta, path)
    return merges, alphabet, marker


def _bpe_verify_artifact(
    merges: DataFrame, alphabet: DataFrame, meta: dict, path: str
) -> None:
    """The integrity check ``bpe_read_tokenizer`` documents: recompute
    the content fingerprint from the loaded tables and compare against
    the meta, handling the versionless-meta two-recipe acceptance and
    sidecar re-stamp. Raises ValueError on mismatch."""
    # Metas written before the fingerprint was versioned carry no
    # fp_version field, and span TWO hash generations: the original
    # recipe without the `n` column (v1) and the r13 revision that
    # added `n` but predates the version stamp. A versionless meta
    # is therefore accepted if EITHER recipe reproduces its hash —
    # failing any previously-valid artifact would be the exact
    # regression the versioning exists to prevent (ADVICE r13); a
    # stamped meta is held to its declared recipe only. A sidecar
    # stamp written by a previous verified read of a versionless
    # meta counts as declared — the artifact locked to that recipe.
    declared = meta.get("fp_version")
    if declared is None:
        import json as _json
        import os

        try:
            # coerce INSIDE the try (ADVICE r15): a corrupted
            # sidecar whose fp_version isn't int-coercible (a
            # list, "two", null) must degrade to the two-recipe
            # acceptance, not brick reads of a valid artifact
            with open(
                os.path.join(path, "meta_fp_version.json")
            ) as f:
                declared = int(_json.load(f).get("fp_version"))
        except (OSError, ValueError, TypeError):
            declared = None
    # declared is int (meta field / coerced sidecar) or None here
    candidates = [declared] if declared is not None else [1, 2]
    want = (
        meta["content_hash"],
        meta.get("n_merges"),
        meta.get("alphabet_size"),
    )
    got = None
    matched_version = None
    for fp_version in candidates:
        got = _bpe_artifact_fingerprint(
            merges, alphabet, fp_version=fp_version
        )
        if got == want:
            matched_version = fp_version
            break
    if got == want and declared is None:
        # ADVICE r14 #4: a versionless meta got the weaker
        # two-recipe acceptance; now that exactly one recipe has
        # verified it, RE-STAMP the matched fp_version so the
        # artifact locks to a single recipe from here on. The stamp
        # is an atomic SIDECAR file (tmp + os.replace), never an
        # in-place rewrite of the parquet meta — a Spark overwrite
        # is delete-then-write, and a crash mid-rewrite on a READ
        # path would brick the artifact (code-review r15).
        import json as _json
        import os
        import sys as _sys

        print(
            f"bpe_read_tokenizer: versionless meta at {path!r} "
            f"verified by fp recipe v{matched_version}; stamping "
            "sidecar",
            file=_sys.stderr,
        )
        try:
            sidecar = os.path.join(path, "meta_fp_version.json")
            tmp = sidecar + ".tmp"
            with open(tmp, "w") as f:
                _json.dump({"fp_version": matched_version}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, sidecar)
        except OSError as exc:  # read-only store: verify-only is fine
            print(
                f"bpe_read_tokenizer: re-stamp skipped ({exc})",
                file=_sys.stderr,
            )
    if got != want:
        got_hash, got_m, got_a = got
        raise ValueError(
            f"tokenizer artifact at {path!r} failed integrity "
            f"check: loaded (hash={got_hash}, n_merges={got_m}, "
            f"alphabet_size={got_a}) vs meta (hash={want[0]}, "
            f"n_merges={want[1]}, alphabet_size={want[2]}) — "
            "torn write or out-of-band edit; retrain or restore"
        )


def tokenizer_staleness(
    enc: DataFrame,
    *,
    oov_id: int = -1,
    retrain_threshold: float = 0.001,
) -> dict:
    """The tokenizer's RETRAIN TRIGGER (VERDICT r12 #5), mirroring
    ``ann_index.index_staleness``: a frozen tokenizer encodes any
    corpus, but characters the training corpus never saw become
    ``oov_id`` — so the OOV fraction of a NEWLY ENCODED corpus is the
    drift signal. Computed entirely from ``bpe_encode`` output (one
    bounded aggregate over per-doc id strings — counting oov tokens
    in-plan, no re-encode): returns n_syms, n_oov, oov_rate and
    ``retrain_recommended`` once the rate crosses
    ``retrain_threshold``. The default 0.1% is conservative — a real
    alphabet gap hits every occurrence of the unseen character, so
    genuine drift clears it quickly while a stray corrupt byte does
    not."""
    oov_tok = str(int(oov_id))
    row = enc.agg(
        F.coalesce(F.sum("n_syms"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(
            F.sum(
                F.size(
                    F.filter(
                        F.split(F.col("ids_str"), " "),
                        lambda x: x == F.lit(oov_tok),
                    )
                ).cast("long")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("o"),
    ).first()
    n, o = int(row.n), int(row.o)
    rate = (o / n) if n else 0.0
    return {
        "n_syms": n,
        "n_oov": o,
        "oov_rate": rate,
        "retrain_threshold": retrain_threshold,
        "retrain_recommended": rate > retrain_threshold,
    }


def bpe_decode(
    encoded: DataFrame,
    merges: DataFrame,
    alphabet: DataFrame,
    *,
    marker: str,
    id_col: str = "doc_id",
    ids_col: str = "ids_str",
) -> DataFrame:
    """Detokenize: invert ``bpe_encode`` from the id sequence alone.
    Requires the ``marker`` boundary symbol to have been in use at
    train/encode time — without it the flat id stream cannot recover
    word boundaries (documented GPT-vs-SentencePiece trade-off in
    ``bpe_train``). Every symbol string carries its word's leading
    marker, so decode is: ids -> symbols (broadcast join on the
    replayed (sym, id) vocab) -> in-order concat per doc -> marker
    becomes space. Unknown ids (``oov_id`` from encode, or corruption)
    decode to nothing and are COUNTED in n_unknown rather than guessed.

    One corpus-sized explode of the id stream, a broadcast vocab join,
    one doc-keyed shuffle for the ordered rebuild — the exact mirror of
    the encode plan. Returns (id_col, text, n_unknown).
    """
    vocab = bpe_vocab(alphabet, merges)
    ids = encoded.select(
        id_col,
        F.posexplode(F.split(F.col(ids_col), " ")).alias("pos", "_id_s"),
    ).select(id_col, "pos", F.col("_id_s").cast("long").alias("id"))
    syms = ids.join(F.broadcast(vocab), "id", "left")
    return (
        syms.groupBy(id_col)
        .agg(
            F.sum(F.col("sym").isNull().cast("long"))
            .cast("long")
            .alias("n_unknown"),
            F.concat_ws(
                "",
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, sym)))"
                    ", x -> x.sym)"
                ),
            ).alias("_joined"),
        )
        .select(
            id_col,
            F.ltrim(
                F.replace(F.col("_joined"), F.lit(marker), F.lit(" "))
            ).alias("text"),
            "n_unknown",
        )
    )


def span_cut_corpus(
    docs: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
    strategy: str = "window",
) -> DataFrame:
    """The ACTIONABLE half of exact-substring dedup: rewrite every
    document with its cross-doc duplicated n-gram spans REMOVED (the
    C4 "seen-before span" cut / Lee et al. 2022 substring cut, applied
    symmetrically — every copy drops the shared passage, the
    deterministic order-free form a distributed engine can grade;
    keep-one-copy is this composed with an owner election à la
    dedup_representatives). ``duplicate_token_spans`` reports the
    spans; this emits the cleaned corpus a training run actually reads.

    Plan: the same gram pass as duplicate_token_spans marks duplicated
    hits (ONE gram equi-shuffle; ``hashed=True`` collapses the gram key
    to xxhash64 map-side at 100 TB), each dup hit explodes to its ≤ n
    covered token positions (clean corpus regions never expand), a
    distinct builds the per-doc cut set, a left ANTI join drops cut
    positions, and an ordered re-assembly
    (array_join∘transform∘array_sort∘collect_list(struct(pos, tok)))
    rebuilds the text — positions are unique per doc so the sort is
    total and the rebuild deterministic. Every shuffle is keyed by gram
    or doc id; nothing is SinglePartition.

    Docs with no duplicated gram pass through VERBATIM; a doc cut down
    to nothing keeps a row with empty text. NULL-text docs are out of
    contract (filtered, same as the oracle). Returns
    (id, text, n_tokens_removed).
    """
    src = docs.filter(F.col(text_col).isNotNull())
    toks = src.select(id_col, F.split(F.col(text_col), " ").alias("_ts"))
    pos = toks.select(
        id_col, F.posexplode("_ts").alias("_p0", "_tok")
    ).select(id_col, (F.col("_p0") + 1).alias("_p"), "_tok")

    dup_hits = _cross_doc_dup_hits(
        toks, n=n, id_col=id_col, hashed=hashed, strategy=strategy
    )
    cut = dup_hits.select(
        id_col,
        F.explode(F.sequence(F.col("_i"), F.col("_i") + (n - 1))).alias("_p"),
    ).distinct()

    kept = pos.join(cut, [id_col, "_p"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(_p, _tok))),"
            " x -> x._tok), ' ')"
        ).alias("_text"),
    )
    total = toks.select(id_col, F.size("_ts").alias("_n_total"))
    return total.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("_text"), F.lit("")).alias("text"),
        (F.col("_n_total") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_tokens_removed"),
    )


def build_vocab(
    df: DataFrame, text_col: str, *, top_v: int = 32
) -> DataFrame:
    """Frequency-ranked token vocabulary: the ``top_v`` most frequent
    whitespace tokens (the split_words normalization: lowercase, collapsed
    whitespace), id = 0-based rank, ties broken by token ASC so the
    mapping is deterministic across partitionings and engines.

    One explode + one counted groupBy (map-side partials — the gram
    discipline); the ranking window runs over the COUNTED table (one
    row per distinct token, never the token stream). Returns (tok, id).
    At 100 TB a real tokenizer caps the candidate set before ranking
    (min-count prune on the counted table — a filter, not a new pass).
    """
    from pyspark.sql import Window

    counts = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(split_words(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    # single-partition window is SAFE here: its input is the counted
    # vocab table (bounded by distinct-token count, and top_v-bounded
    # output), not the corpus — same argument as heavy_hitters' final
    # rank
    return (
        counts.withColumn("id", F.row_number().over(w) - 1)
        .filter(F.col("id") < top_v)
        .select("tok", F.col("id").cast("long").alias("id"))
    )


def encode_token_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    *,
    oov_id: int = -1,
) -> DataFrame:
    """Tokenizer-apply: encode each document as its ordered array of
    vocabulary ids (OOV → ``oov_id``) — the step between vocabulary
    mining (build_vocab / bpe_merge_candidates) and sequence_packing.

    posexplode keeps token order; the vocab join is BROADCAST (a
    vocabulary is ≤ a few hundred thousand rows at any corpus size);
    the ordered rebuild is the array_sort(collect_list(struct(pos,id)))
    pattern from span_cut_corpus — one shuffle keyed by doc. Returns
    (id_col, n_tokens, n_oov, ids).
    """
    toks = df.filter(F.col(text_col).isNotNull()).select(
        id_col,
        F.posexplode(split_words(text_col)).alias("pos", "tok"),
    )
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("id"), F.lit(oov_id)).cast("long").alias("id"),
    )
    return enc.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((F.col("id") == oov_id).cast("long"))
        .cast("long")
        .alias("n_oov"),
        F.expr(
            "transform(array_sort(collect_list(struct(pos, id))),"
            " x -> x.id)"
        ).alias("ids"),
    )


def pack_token_ids(
    enc: DataFrame,
    *,
    seq_len: int = 512,
    id_col: str = "doc_id",
    n_col: str = "n_syms",
    ids_col: str = "ids_str",
    bucket_size: int = 4096,
    eos_id: int | None = None,
    with_boundaries: bool = False,
) -> DataFrame:
    """GPT-style training-sequence packing over ENCODED ids (the step
    after ``bpe_encode``): concatenate every document's id stream in
    doc-id order and split every ``seq_len`` ids — documents MAY span
    sequence boundaries (the standard pretraining packer;
    ``pack_documents`` is the no-split bin variant over token counts).

    ``eos_id`` (VERDICT r11 #4): when set, every document's stream gets
    the EOS id APPENDED before concatenation — the document separator a
    real GPT-style packer inserts. Implemented as a constant-suffix
    projection on (ids_str, n), so the packing plan is unchanged.
    ``with_boundaries``: additionally emit ``boundaries_str`` — the
    sorted within-sequence offsets (0-based) where a document STARTS,
    i.e. the attention-reset spans a boundary-aware trainer masks on; a
    sequence fully inside one document gets ''. Boundaries derive from
    the already-computed per-doc global offsets (one bounded groupBy on
    seq id + a broadcast-size join), never a second pass over the id
    stream.

    The global token offset of each doc is a distributed TWO-PHASE
    prefix sum, never a single global window: docs bucket by
    ``id_col // bucket_size`` (deterministic ranges, unlike sampled
    repartitionByRange); phase 1 is a bucket-partitioned cumsum window
    (each partition ≤ bucket_size rows); phase 2 adds the cumulative
    bucket totals, a window over the BOUNDED bucket table. After that:
    one posexplode of the id stream (inherent — the output IS the id
    stream), seq_id = floor(global_pos / seq_len) as pure arithmetic,
    and one seq-keyed shuffle for the ordered rebuild. Returns
    (seq_id, n_ids, n_docs, ids_str) — every sequence holds exactly
    seq_len ids except the last; ids_str per the FIXTURES array rule.
    """
    if seq_len < 1:
        # seq_id = floor(global_pos / seq_len): 0 divides by zero,
        # negatives scramble the tiling — fail loud.
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    if bucket_size < 1:
        raise ValueError(f"bucket_size must be >= 1, got {bucket_size}")
    from pyspark.sql import Window

    doc = enc.select(
        F.col(id_col).alias("_doc"),
        F.col(n_col).cast("long").alias("_n"),
        F.col(ids_col).alias("_ids"),
    )
    if eos_id is not None:
        # empty-stream guard (public API; unreachable via bpe_encode):
        # concat('', ' <eos>') would yield ' <eos>', which split(' ')
        # explodes into a bogus '' token while _n says 1 — shifting
        # every later doc's global offset. An empty stream gets the
        # bare EOS id instead.
        doc = doc.select(
            "_doc",
            (F.col("_n") + 1).alias("_n"),
            F.when(
                F.col("_n") > 0,
                F.concat(
                    F.col("_ids"), F.lit(" " + str(int(eos_id)))
                ),
            )
            .otherwise(F.lit(str(int(eos_id))))
            .alias("_ids"),
        )
    doc = doc.withColumn("_bkt", F.floor(F.col("_doc") / bucket_size))
    intra_w = (
        Window.partitionBy("_bkt")
        .orderBy("_doc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    doc = doc.withColumn(
        "_local_off", F.coalesce(F.sum("_n").over(intra_w), F.lit(0))
    )
    btot = doc.groupBy("_bkt").agg(F.sum("_n").alias("_bn"))
    boff_w = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # bounded: one row per bucket — the build_vocab single-partition
    # window argument
    boff = btot.withColumn(
        "_boff", F.coalesce(F.sum("_bn").over(boff_w), F.lit(0))
    ).select("_bkt", "_boff")
    doc = doc.join(F.broadcast(boff), "_bkt").withColumn(
        "_off", F.col("_local_off") + F.col("_boff")
    )
    ids = doc.select(
        "_doc",
        "_off",
        F.posexplode(F.split(F.col("_ids"), " ")).alias("_spos", "_id"),
    ).select(
        "_doc",
        (F.col("_off") + F.col("_spos")).alias("_gpos"),
        "_id",
    )
    packed = (
        ids.withColumn(
            "seq_id", F.floor(F.col("_gpos") / seq_len).cast("long")
        )
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ids"),
            F.countDistinct("_doc").cast("long").alias("n_docs"),
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(_gpos, _id)))"
                    ", x -> x._id)"
                ),
                " ",
            ).alias("ids_str"),
        )
    )
    if not with_boundaries:
        return packed
    # doc-start offsets are already on the bounded doc table: one
    # groupBy over (sequences containing a doc start) + a join that is
    # doc-table-sized, never id-stream-sized
    bnd = (
        doc.select(
            F.floor(F.col("_off") / seq_len).cast("long").alias("seq_id"),
            (F.col("_off") % seq_len).alias("_lpos"),
        )
        .groupBy("seq_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(_lpos)),"
                    " x -> cast(x as string))"
                ),
                " ",
            ).alias("boundaries_str")
        )
    )
    return packed.join(bnd, "seq_id", "left").select(
        "seq_id",
        "n_ids",
        "n_docs",
        "ids_str",
        F.coalesce("boundaries_str", F.lit("")).alias("boundaries_str"),
    )
