"""Character-bigram language identification (en / de / es / fr / it / pt).

The classic n-gram profile method (Cavnar & Trenkle 1994, "N-Gram-Based
Text Categorization") with add-half-smoothed log-likelihood scoring
(Dunning 1994) over CHARACTER BIGRAMS, quantized to integer milli-nats
so the Arrow batch scorer and the DuckDB oracle sum the SAME integers in
any order and land on the SAME totals exactly (no float-accumulation
drift, repr-hash safe).

The per-language profiles are built at import time from small embedded
top-frequency word lists (public knowledge: the most common words of
each language, frequency-ordered, accents kept — 'é'/'ñ'/'ß' are strong
signals). Rank is used as a linear frequency proxy (weight = N - rank).
The whole model is ~1.3k integers; it inlines into a DuckDB VALUES
table.

Decision rule (identical in the scorer and the oracle, in this order):
  n < MIN_GRAMS                        -> 'unknown'
  best - second < MARGIN_MILLI * n     -> 'unknown'
  else argmax with precedence LANGS    -> that language

Reference parity: the reference pipeline has no lang-id; this is part of
the beyond-reference LLM-curation surface (SURVEY.md §6). Non-Latin
scripts (e.g. zh) normalize to near-empty gram streams and fall out as
'unknown' by design — a CJK profile would need its own alphabet.
"""

from __future__ import annotations

import re
from functools import lru_cache
from math import log

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nuclei_feature_extraction_spark.zipcache import guard_zip_caches

LANGS = ("en", "de", "es", "fr", "it", "pt")
MIN_GRAMS = 4           # fewer bigrams than this -> 'unknown'
MARGIN_MILLI = 15       # required milli-nats of margin PER GRAM

# frequency-ordered common-word lists (public top-frequency vocabulary)
_WORDS = {
    "en": (
        "the of and to in is was for that it on as with he be at by are "
        "this have from or had not but what all were when we there can an "
        "your which their said if do will each about how up out them then "
        "she many some so these would other into has more her two like him "
        "see time could no make than first been its who now people my made "
        "over did down only way find use may water long little very after "
        "words called just where most know get through back much before go "
        "good new write our used me man too any day same right look think "
        "also around another came come work three word must because does "
        "part even place well such here take why things help put years "
        "different away again off went old number great tell men say small "
        "every found still between name should home big give air line set "
        "own under read last never us left end along while might next "
        "sound below saw something thought both few those always show "
        "large often together asked house world going want school "
        "important until form food keep children feet land side without "
        "once animal life enough took four head above kind began almost"
    ).split(),
    "de": (
        "der die und das den von zu mit sich des auf ist im dem nicht ein "
        "eine als auch es an werden aus er hat dass sie nach wird bei "
        "einer um am sind noch wie einem über einen so zum war haben nur "
        "oder aber vor zur bis mehr durch man sein wurde sei ich du wir "
        "ihr mich dich uns euch mir dir ihm ihn ihnen mein dein unser "
        "schon sehr immer wieder hier dort jetzt dann wenn wo warum was "
        "wer welche alle alles viele viel wenig etwas nichts gut besser "
        "können müssen sollen wollen dürfen mögen kann muss soll will "
        "darf mag konnte musste sollte wollte gross klein alt neu jung "
        "lang kurz hoch tief schnell langsam schön unter zwischen während "
        "wegen jahr jahre tag tage zeit mann frau kind haus stadt land "
        "wasser feuer erde himmel meer liebe wort ding leben hand kopf "
        "auge herz vater mutter bruder schwester freund strasse grösse "
        "heissen heisst weiss daß für über würde könnte hätte wäre gegen "
        "ohne damit trotzdem deshalb beispiel deutsch sprache mädchen"
    ).split(),
    "es": (
        "de la que el en y a los del se las por un para con no una su al "
        "lo como más pero sus le ya o este sí porque esta entre cuando "
        "muy sin sobre también me hasta hay donde quien desde todo nos "
        "durante todos uno les ni contra otros ese eso ante ellos esto mí "
        "antes algunos qué unos yo otro otras otra él tanto esa estos "
        "mucho quienes nada muchos cual poco ella estar estas algunas "
        "algo nosotros mi mis tú te ti tu tus ellas nuestro nuestra ser "
        "es soy eres somos son sea año años día días tiempo vez hombre "
        "mujer niño niña casa ciudad país agua fuego tierra cielo mar "
        "amor palabra cosa vida mano cabeza ojo corazón padre madre "
        "hermano hermana amigo señor señora hacer hace hizo decir dice "
        "dijo poder puede pudo tener tiene tuvo está estaba según así "
        "aquí allí ahora entonces después siempre nunca español lengua "
        "trabajo hijo hija joven mejor bajo dejar lejos viejo jamás "
        "lluvia llegar llamar calle llevar llenar allá aquello aquella "
        "luz voz paz empezar zapato azul plaza pereza tristeza "
        "nación canción atención información situación educación "
        "ayer ayudar mayor ayuda suyo cuyo leyenda proyecto "
        "mientras aunque luego hacia través momento mundo parte forma "
        "caso lugar manera ejemplo historia noche puerta ventana "
        "camino campo fuerza verdad razón cuerpo sangre muerte nombre "
        "pueblo gente cuenta grupo punto final hecho estado cambio "
        "semana mes mesa libro papel suelo sueño dueño pequeño niños "
        "señal señales enseñar mañana montaña extraño baño otoño"
    ).split(),
    "fr": (
        "le la les de des du un une et est en que qui dans pour par sur "
        "avec ne pas au aux ce cette ces se son sa ses il elle ils elles "
        "nous vous je tu on mais ou où donc ni car si plus moins très "
        "bien mal tout tous toute toutes même aussi comme être avoir "
        "faire dire pouvoir aller voir savoir vouloir venir falloir "
        "devoir croire trouver donner prendre parler aimer passer mettre "
        "demander tenir sembler laisser rester penser entendre regarder "
        "répondre rendre connaître paraître arriver sentir attendre "
        "vivre chercher sortir comprendre porter devenir entrer écrire "
        "était été avait sont fait peut deux trois quatre cinq premier "
        "première dernier dernière nouveau nouvelle grand grande petit "
        "petite beau belle bon bonne mauvais jeune vieux femme homme "
        "enfant jour nuit année temps heure monde vie main tête yeux "
        "cœur père mère frère sœur ami maison ville pays eau feu terre "
        "ciel mer amour mot chose rien quelque quelques toujours jamais "
        "souvent maintenant alors après avant depuis pendant contre "
        "entre sous chez vers sans dont cela celui celle ceux ça ici "
        "français langue aujourd hui être même déjà peut-être"
    ).split(),
    "it": (
        "di che e il la non un a per è una in sono mi si lo ma le ci "
        "con ha no se io come più qui questo del cosa bene era lui mio "
        "al me così anche quando tutto della ancora sei sua nel ho "
        "molto fatto essere stato suo dove solo noi voi loro questa "
        "questi queste quella quello sempre prima dopo ora già mai "
        "niente nulla ogni altro altra altri senza contro sotto sopra "
        "tra fra perché quindi allora poi anni anno giorno giorni "
        "tempo volta uomo donna bambino casa città paese acqua fuoco "
        "terra cielo mare amore parola vita mano testa occhi cuore "
        "padre madre fratello sorella amico signore signora fare fa "
        "fece dire dice disse potere può poteva avere aveva tenere "
        "teneva stata sarà sarebbe due tre quattro cinque primo "
        "grande piccolo vecchio nuovo giovane lungo alto basso buono "
        "bello brutto stesso proprio davvero soltanto davanti dietro "
        "dentro fuori vicino lontano presto tardi oggi ieri domani "
        "italiano lingua però neanche qualche ecco ognuno ciascuno"
    ).split(),
    "pt": (
        "de que e o a do da em um para é com não uma os no se na por "
        "mais as dos como mas foi ao ele das tem à seu sua ou ser "
        "quando muito há nos já está eu também só pelo pela até isso "
        "ela entre era depois sem mesmo aos ter seus quem nas me esse "
        "eles estão você tinha foram essa num nem suas meu às minha "
        "têm numa pelos qual será nós tenho lhe deles essas esses "
        "pelas este fosse dele outro outra outros ainda antes sempre "
        "nunca coisa coisas tudo nada cada onde porque então assim "
        "anos ano dia dias tempo vez homem mulher criança casa cidade "
        "país água fogo terra céu mar amor palavra vida mão cabeça "
        "olhos coração pai mãe irmão irmã amigo senhor senhora fazer "
        "faz fez dizer diz disse poder pode podia haver houve dois "
        "três quatro cinco primeiro grande pequeno velho novo jovem "
        "longo alto baixo bom boa bonito feio próprio apenas diante "
        "atrás dentro fora perto longe cedo tarde hoje ontem amanhã "
        "português língua são estava estavam havia algum alguma alguns "
        "filho filha melhor olho trabalho ilha folha velhos escolha "
        "senhores caminho vinho ganhar banho montanha manhãs junho "
        "coisinha pessoa pessoas nosso nossa vosso passar isso disso "
        "naquele naquela nestes nesta neste desta deste doutro daquilo "
        "começar começo praça almoço serviço criação criançada canções "
        "informação situação educação estação verão pão cão chão "
        "verdade idade liberdade saudade felicidade qualidade "
        "ouvir ouro pouco poucos roupa louco loucura outras vossos "
        "lugar gente conta grupo ponto fim feito mudança trabalhos "
        "semana mês mesa livro papel sonho dono pequena meninos"
    ).split(),
}

_ACCENTS = "".join(sorted(set("àâäáçèéêëîïíñóôöòùûüúßœæÿìãõ")))
_ALPHA = " " + "abcdefghijklmnopqrstuvwxyz" + _ACCENTS
# uppercase counterparts with an unambiguous 1:1 lowercase mapping that
# both engines (Python str.lower, DuckDB's utf8proc lower) agree on.
# 'ß' has no 1-char uppercase ('SS'); its capital form ẞ (U+1E9E)
# lowers to ß in both, so it is added explicitly.
_UPPER = "".join(
    sorted(
        {
            c.upper()
            for c in _ALPHA[1:]
            if len(c.upper()) == 1 and c.upper().lower() == c
        }
        | {"ẞ"}
    )
)
# PRE-STRIP BEFORE lower(): collapse every run outside the case-extended
# known alphabet to one space, THEN lowercase. lower() only ever sees
# characters whose lowercase mapping is identical in Python re and RE2
# (DuckDB) — so cross-engine bit-parity holds BY CONSTRUCTION for
# arbitrary input (Turkish dotted I, ligatures, combining marks are
# stripped identically everywhere instead of depending on each engine's
# case-folding corner cases). The regex is a literal negated character
# class, identical in both engines.
_NORM_RE_SRC = f"[^{_ALPHA[1:]}{_UPPER} ]+"
_NORM_RE = re.compile(_NORM_RE_SRC)


def _normalize(text: str) -> str:
    """collapse non-alphabet runs to ' ' → lower → trim → pad with the
    word-boundary marker. The DuckDB oracle reproduces this exactly (see
    ``_NORM_RE_SRC``: strip precedes lower, so lower() never sees a
    codepoint with an engine-dependent case mapping)."""
    return " " + _NORM_RE.sub(" ", text).lower().strip() + " "


@lru_cache(maxsize=1)
def bigram_tables() -> tuple[dict[str, dict[str, int]], dict[str, int]]:
    """Per-language ``{bigram: milli-nat score}`` plus the per-language
    unseen-bigram fallback score. Deterministic (sorted iteration, pure
    integer output)."""
    counts: dict[str, dict[str, int]] = {}
    vocab: set[str] = set()
    for lang in LANGS:
        ws = _WORDS[lang]
        n = len(ws)
        c: dict[str, int] = {}
        for rank, w in enumerate(ws):
            s = _normalize(w)
            wt = n - rank  # linear rank→frequency proxy
            for i in range(len(s) - 1):
                bg = s[i : i + 2]
                c[bg] = c.get(bg, 0) + wt
        counts[lang] = c
        vocab |= c.keys()
    v = len(vocab) + 1
    tables: dict[str, dict[str, int]] = {}
    fallbacks: dict[str, int] = {}
    for lang in LANGS:
        c = counts[lang]
        total = sum(c.values())
        denom = total + 0.5 * v
        tables[lang] = {
            bg: round(1000 * log((cnt + 0.5) / denom))
            for bg, cnt in sorted(c.items())
        }
        fallbacks[lang] = round(1000 * log(0.5 / denom))
    return tables, fallbacks


@lru_cache(maxsize=1)
def _score_matrix() -> tuple[np.ndarray, dict[int, str]]:
    """(A², n_langs) int64 score matrix over alphabet-index bigrams,
    initialized to each language's fallback, plus the codepoint→index
    translate table used to turn normalized text into index bytes."""
    tables, fallbacks = bigram_tables()
    a = len(_ALPHA)
    m = np.empty((a * a, len(LANGS)), dtype=np.int64)
    idx = {ch: i for i, ch in enumerate(_ALPHA)}
    for j, lang in enumerate(LANGS):
        m[:, j] = fallbacks[lang]
        for bg, s in tables[lang].items():
            m[idx[bg[0]] * a + idx[bg[1]], j] = s
    trans = {ord(ch): chr(i) for i, ch in enumerate(_ALPHA)}
    return m, trans


_LID_SCHEMA = T.StructType(
    [
        T.StructField("lang_pred", T.StringType()),
        T.StructField("lang_margin", T.LongType()),
        T.StructField("lang_grams", T.IntegerType()),
    ]
)


def _score_batch(texts) -> "object":
    """Vectorized scorer for one Arrow batch: per row, normalize +
    translate to alphabet indices (C-speed str ops), then one int64
    gather-sum over the score matrix. Decision rule shared via ints."""
    import pandas as pd

    m, trans = _score_matrix()
    a = len(_ALPHA)
    n_rows = len(texts)
    totals = np.zeros((n_rows, len(LANGS)), dtype=np.int64)
    n_grams = np.zeros(n_rows, dtype=np.int64)
    for r, t in enumerate(texts):
        if t is None:
            continue
        s = _normalize(t).translate(trans)
        b = np.frombuffer(s.encode("latin-1"), dtype=np.uint8)
        if b.size < 2:
            continue
        ids = b[:-1].astype(np.int64) * a + b[1:]
        n_grams[r] = ids.size
        totals[r] = m[ids].sum(axis=0)
    order = np.argsort(totals, axis=1, kind="stable")
    best = totals[np.arange(n_rows), order[:, -1]]
    second = totals[np.arange(n_rows), order[:, -2]]
    margin = best - second
    # argmax with first-in-LANGS precedence on ties
    pred_idx = np.argmax(totals, axis=1)
    unknown = (n_grams < MIN_GRAMS) | (margin < MARGIN_MILLI * n_grams)
    pred = np.where(
        unknown, "unknown", np.asarray(LANGS, dtype=object)[pred_idx]
    )
    return pd.DataFrame(
        {
            "lang_pred": pred,
            "lang_margin": margin,
            "lang_grams": n_grams.astype(np.int32),
        }
    )


def _arrow_lang_col(text_col: str) -> Column:
    @F.pandas_udf(_LID_SCHEMA)
    def lid(texts):  # pragma: no cover - executed on workers
        guard_zip_caches()
        return _score_batch(texts)

    return lid(F.col(text_col))


def with_lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``lang_pred`` / ``lang_margin`` / ``lang_grams``.

    One vectorized Arrow batch scorer — narrow, zero-shuffle, int64
    gather-sums. Value-identical to the DuckDB oracle built by
    :func:`oracle_fragments` (pytest-pinned)."""
    tmp = "__lid"
    out = df.withColumn(tmp, _arrow_lang_col(text_col))
    for f in _LID_SCHEMA.fieldNames():
        out = out.withColumn(f, F.col(f"{tmp}.{f}"))
    return out.drop(tmp)


# --------------------------------------------------------------- oracle

def oracle_fragments(table: str = "documents", text_col: str = "text",
                     id_col: str = "doc_id") -> str:
    """ANSI/DuckDB SQL computing the same integer scores + decision:
    explode bigrams → LEFT JOIN an inlined VALUES score table → integer
    sums → the shared decision CASE. Used by ``oracle_sql()`` so the
    driver's DuckDB run is value-identical to :func:`with_lang_scores`."""
    tables, fallbacks = bigram_tables()
    vocab = sorted(set().union(*[t.keys() for t in tables.values()]))
    rows = ", ".join(
        "('{bg}', {s})".format(
            bg=bg.replace("'", "''"),
            s=", ".join(
                str(tables[lang].get(bg, fallbacks[lang])) for lang in LANGS
            ),
        )
        for bg in vocab
    )
    score_cols = ", ".join(f"s_{lang}" for lang in LANGS)
    sums = ", ".join(
        f"sum(coalesce(t.s_{lang}, {fallbacks[lang]})) AS s_{lang}"
        for lang in LANGS
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANGS) + ")"
    second = (
        "list_sort([" + ", ".join(f"s_{lang}" for lang in LANGS) + "])"
        f"[{len(LANGS) - 1}]"
    )
    argmax = " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in LANGS[:-1]
    )
    return f"""
        WITH __lid_norm AS (
          SELECT {id_col},
                 ' ' || trim(lower(regexp_replace({text_col},
                             '{_NORM_RE_SRC}', ' ', 'g'))) || ' ' AS s
          FROM {table}
        ), __lid_g AS (
          SELECT {id_col}, len(s) - 1 AS n,
                 list_transform(range(1, greatest(len(s), 2)),
                                i -> substr(s, i::INT, 2)) AS bgs
          FROM __lid_norm
        ), __lid_e AS (
          SELECT {id_col}, unnest(bgs) AS bg FROM __lid_g
        ), __lid_sc AS (
          SELECT e.{id_col}, {sums}
          FROM __lid_e e
          LEFT JOIN (VALUES {rows}) t(bg, {score_cols}) ON t.bg = e.bg
          GROUP BY e.{id_col}
        )
        SELECT g.{id_col}, g.n,
               CASE WHEN sc.s_{LANGS[0]} IS NULL
                         OR coalesce(g.n, 0) < {MIN_GRAMS}
                         OR ({best} - {second}) < {MARGIN_MILLI} * g.n
                    THEN 'unknown'
                    {argmax}
                    ELSE '{LANGS[-1]}' END AS lang_pred,
               coalesce({best} - {second}, 0) AS lang_margin
        FROM __lid_g g LEFT JOIN __lid_sc sc USING ({id_col})
    """
