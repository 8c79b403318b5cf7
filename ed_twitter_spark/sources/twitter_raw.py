"""Raw Twitter corpus readers (S7): TwitterNEED XML and NEEL/Microposts
TSV + gold-standard ingestion — the corpus-construction front half of the
tweet path, feeding the same eval pipeline as the generated CSV/CoNLL.

Reference semantics:

* XML: ``gen_from_tweets.py:171-198`` — tweets under the root's second
  child; per mention Text/StartIndx/Entity, end = start + len(text).
* NEEL dir: ``gen_from_tweets.py:201-249`` — ``NEEL2016-<split>.tsv``
  (tweet_id, text) plus ``NEEL2016-<split>_neel.gs`` (tweet_id, start,
  end, link); mentions of unknown tweets are dropped; mention text is the
  tweet slice [start:end).
* context lines: ``get_tweet_context`` + ``find_and_write_candidates``
  (``gen_from_tweets.py:58-98,156-168``) — left/right whitespace contexts
  with EMPTYCTXT sentinels, candidate list from the p(e|m) table capped at
  101 entries (the reference's ``pos > 100`` break admits 101), ``GT:``
  tail with 1-based gold position / ``-1`` NIL forms / EMPTYCAND.
* CoNLL: ``conll_from_tweets.py:75-210`` — word-offset projection of the
  char spans via ``split_in_words`` prefix lengths, the one-word
  bad-index fallback scan, B/I tagging, and the skip rules (mention with
  no resolvable link → untagged; tweet with zero tagged mentions →
  omitted).

Deviations (cited, deliberate): the reference resolves links through the
live Wikipedia/DBpedia APIs (``wikiid_from_*``, S8 network — excluded by
design); here the entity NAME is parsed from the link URL and the id is
the engine's deterministic md5 id (synth.ent_id), with non-wiki/dbpedia
links dropped. Candidate ties at equal prior sort by ent_name for
determinism (the reference inherits Python dict insertion order).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.hashing import toks_col
from ed_twitter_spark.functions.text import split_in_words
from ed_twitter_spark.operators.candidates import attach_candidates

CAND_CAP = 101  # gen_from_tweets.py:73 (`pos > 100` breaks after 101 appends)

_MENTION_SCHEMA = (
    "tweet_id string, text string, mention string, start_idx int, "
    "end_idx int, link string, m_ord int"
)


def read_neel_tsv(spark: SparkSession, path: str) -> DataFrame:
    """(tweet_id, text) — NEEL2016-<split>.tsv (gen_from_tweets.py:201-211)."""
    return spark.read.csv(path, sep="\t", schema="tweet_id string, text string")


def read_neel_gs(spark: SparkSession, path: str) -> DataFrame:
    """(tweet_id, start_idx, end_idx, link) — the _neel.gs gold standard."""
    return spark.read.csv(
        path,
        sep="\t",
        schema="tweet_id string, start_idx int, end_idx int, link string",
    )


def neel_mentions(tweets: DataFrame, gs: DataFrame) -> DataFrame:
    """Join the gold mentions onto their tweets (unknown tweet_ids drop,
    gen_from_tweets.py:230-231); mention text is the [start:end) slice;
    m_ord is the per-tweet start-order (conll_from_tweets.py:190-193)."""
    j = gs.join(tweets, "tweet_id")
    w = Window.partitionBy("tweet_id").orderBy("start_idx")
    return j.select(
        "tweet_id",
        "text",
        F.expr("substring(text, start_idx + 1, end_idx - start_idx)").alias(
            "mention"
        ),
        "start_idx",
        "end_idx",
        "link",
    ).withColumn("m_ord", (F.row_number().over(w) - 1).cast("int"))


def read_twitterneed_xml(spark: SparkSession, path: str) -> DataFrame:
    """TwitterNEED XML → the same mention frame as :func:`neel_mentions`.

    Whole files are read as text (one row per XML file, parallel across
    files) and parsed with ElementTree inside ``mapInPandas`` — the
    structure walk of gen_from_tweets.py:171-187: tweets under the root's
    second child, end_idx = start + len(mention text)."""
    files = spark.read.text(path, wholetext=True)

    def parse(it):
        from xml.etree import ElementTree

        for pdf in it:
            rows = []
            for content in pdf["value"]:
                root = ElementTree.fromstring(content)
                tweets = list(root)[1]
                for tweet in tweets:
                    tweet_id = tweet.find("TweetId").text or ""
                    text = tweet.find("TweetText").text or ""
                    for m_ord, mention in enumerate(tweet.find("Mentions")):
                        # ElementTree reads an empty element's text as None
                        mtext = mention.find("Text").text or ""
                        start = int(mention.find("StartIndx").text)
                        rows.append(
                            (
                                tweet_id,
                                text,
                                mtext,
                                start,
                                start + len(mtext),
                                mention.find("Entity").text,
                                m_ord,
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "tweet_id",
                    "text",
                    "mention",
                    "start_idx",
                    "end_idx",
                    "link",
                    "m_ord",
                ],
            )

    return files.mapInPandas(parse, schema=_MENTION_SCHEMA)


def resolve_links(mentions: DataFrame) -> DataFrame:
    """Offline analog of wikiid_from_wikipedia/dbpedia: entity name from
    the URL tail, deterministic md5 id; non-wiki/dbpedia links drop (the
    reference's `if not ent_wikiid: continue`)."""
    name = F.when(
        F.col("link").contains("wikipedia.org"),
        F.regexp_extract("link", r"wikipedia\.org/wiki/(.+)$", 1),
    ).when(
        F.col("link").contains("dbpedia.org"),
        F.regexp_extract("link", r"dbpedia\.org/resource/(.+)$", 1),
    )
    return (
        mentions.withColumn("ent_name", name)
        .where(F.col("ent_name").isNotNull() & (F.col("ent_name") != ""))
        .withColumn("gold_ent_id", synth.ent_id_col(F.col("ent_name")))
    )


def mention_context_lines(resolved: DataFrame, kb: DataFrame) -> DataFrame:
    """(tweet_id, m_ord, line) — the emitted mention-context CSV lines,
    byte-compatible with find_and_write_candidates output (and therefore
    with the S5 reader `parse_csv_line`).

    All string surgery is JVM column algebra; the candidate list comes
    from the shared J1 join (`candidates.attach_candidates`: KB-side
    arrays in rank order, capped here at CAND_CAP)."""
    ws = F.lit("EMPTYCTXT")
    lctx_arr = F.filter(
        toks_col(F.expr("substring(text, 1, start_idx)")), lambda t: t != ""
    )
    rctx_arr = F.filter(
        toks_col(F.expr("substring(text, end_idx + 1)")), lambda t: t != ""
    )
    base = resolved.select(
        "tweet_id",
        "m_ord",
        "mention",
        "gold_ent_id",
        "ent_name",
        F.when(F.size(lctx_arr) > 0, F.array_join(lctx_arr, " "))
        .otherwise(ws)
        .alias("lctx"),
        F.when(F.size(rctx_arr) > 0, F.array_join(rctx_arr, " "))
        .otherwise(ws)
        .alias("rctx"),
    )

    return _attach_candidates_and_format(base, kb)


def _attach_candidates_and_format(base: DataFrame, kb: DataFrame) -> DataFrame:
    cand_ids = F.slice("cand_ids", 1, CAND_CAP)
    j = attach_candidates(base, kb).select(
        "*",
        F.transform(
            cand_ids,
            lambda ent_id, i: F.format_string(
                "%s,%s,%s",
                ent_id.cast("string"),
                F.format_string("%.3f", F.col("cand_priors")[i]),
                F.col("cand_names")[i],
            ),
        ).alias("cand_strs"),
    )
    # 1-based gold position among the (capped) candidates
    gt_pos = F.coalesce(F.array_position(cand_ids, F.col("gold_ent_id")), F.lit(0))
    prefix = F.concat_ws(
        "\t", "tweet_id", "tweet_id", "mention", "lctx", "rctx", F.lit("CANDIDATES")
    )
    cand_part = F.array_join(F.col("cand_strs"), "\t")
    with_cands = F.concat_ws(
        "\t",
        prefix,
        cand_part,
        F.lit("GT:"),
        F.when(
            gt_pos > 0,
            F.concat_ws(
                ",",
                gt_pos.cast("string"),
                F.element_at(F.col("cand_strs"), gt_pos.cast("int")),
            ),
        ).otherwise(
            F.concat_ws(",", F.lit("-1"), F.col("gold_ent_id").cast("string"), "ent_name")
        ),
    )
    empty_cand = F.concat_ws(
        "\t",
        prefix,
        F.lit("EMPTYCAND"),
        F.lit("GT:"),
        F.concat_ws(",", F.lit("-1"), F.col("gold_ent_id").cast("string"), "ent_name"),
    )
    return j.select(
        "tweet_id",
        "m_ord",
        F.when(F.size(F.coalesce(F.col("cand_strs"), F.array())) > 0, with_cands)
        .otherwise(empty_cand)
        .alias("line"),
    )


_CONLL_SCHEMA = "tweet_id string, seq int, line string"


def conll_lines(resolved: DataFrame) -> DataFrame:
    """(tweet_id, seq, line) — the CoNLL doc blocks, grouped per tweet.

    Reference-exact tagging (conll_from_tweets.py:75-145): word offsets are
    split_in_words prefix lengths over the char spans, the start==end
    bad-index case falls back to scanning for the one-word mention, B on
    the first word and I on the rest, '000' sentinel columns; tweets whose
    mentions all failed to resolve are omitted."""

    def per_tweet(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("m_ord")
        tweet_id = pdf["tweet_id"].iloc[0]
        text = pdf["text"].iloc[0]
        words = split_in_words(text)
        tagged = list(words)
        corr = 0
        for _, r in pdf.iterrows():
            s, e = int(r["start_idx"]), int(r["end_idx"])
            mnt_text = text[s:e]
            start_w = len(split_in_words(text[:s]))
            end_w = len(split_in_words(text[:e]))
            if start_w == end_w:  # bad char span: scan for the 1-word mention
                # the reference scans the (possibly already-tagged) word
                # list, so a word consumed by an earlier mention won't match
                while start_w < len(tagged):
                    if tagged[start_w] == mnt_text:
                        end_w = start_w + 1
                        break
                    start_w += 1
            details = [mnt_text, r["ent_name"], r["link"], "000", "000"]
            pos = "B"
            while start_w < end_w:
                tagged[start_w] += "\t" + "\t".join([pos] + details)
                pos = "I"
                start_w += 1
                corr += 1
        if corr == 0:
            return pd.DataFrame(columns=["tweet_id", "seq", "line"])
        lines = [f"-DOCSTART- ({tweet_id}"] + tagged + [""]
        return pd.DataFrame(
            {"tweet_id": tweet_id, "seq": range(len(lines)), "line": lines}
        )

    return resolved.groupBy("tweet_id").applyInPandas(per_tweet, schema=_CONLL_SCHEMA)
