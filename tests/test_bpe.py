"""BPE tokenizer: training determinism, known merge behavior, Spark UDF."""

from pyspark.sql import functions as F

from fileconvert_spark.functions.bpe import (
    BPETokenizer, deserialize_merges, pre_tokenize, serialize_merges,
    train_bpe,
)
from fileconvert_spark.functions.text import (
    token_count_bpe_learned,
)


def test_train_known_merge_order():
    # pairs in "hug hug hug": (h,u)x3, (u,g)x3 -> tie -> lexicographically
    # smaller ('h','u') merges first, then ('hu','g')
    merges = train_bpe(["hug hug hug"], n_merges=8)
    assert merges == [("h", "u"), ("hu", "g")]
    tok = BPETokenizer(merges)
    assert tok.word_pieces("hug") == ["hug"]
    assert tok.word_pieces("hut") == ["hu", "t"]  # partial merge applies
    assert tok.word_pieces("xyz") == ["x", "y", "z"]  # unseen: chars


def test_counts_change_vs_pre_tokenizer():
    """The whole point vs the regex splitter: a trained vocab counts
    subword PIECES, the splitter counts words — they must disagree on
    words the vocab doesn't fully merge."""
    corpus = ["lower lower lower lowest lowest newest newest newest"] * 4
    merges = train_bpe(corpus, n_merges=16)
    tok = BPETokenizer(merges)
    text = "lower lowest newest unseenword"
    pre = len(pre_tokenize(text))  # 4 words
    bpe = tok.count(text)
    assert pre == 4
    assert bpe > pre  # 'unseenword' splits into many pieces
    # fully-merged trained words count 1 piece each
    assert tok.count_word("lower") == 1
    assert tok.count_word("newest") == 1


def test_training_is_deterministic_and_serializable():
    corpus = ["the cat sat on the mat", "the bat and the rat chat"] * 3
    m1 = train_bpe(corpus, n_merges=32)
    m2 = train_bpe(list(corpus), n_merges=32)
    assert m1 == m2
    assert deserialize_merges(serialize_merges(m1)) == m1


def test_empty_and_edge_inputs():
    tok = BPETokenizer(train_bpe(["aa aa aa"], n_merges=4))
    assert tok.count("") == 0
    assert tok.count("   ") == 0
    assert tok.count("a") == 1
    assert train_bpe([], n_merges=4) == []
    assert BPETokenizer([]).count("ab cd") == 4  # no merges -> chars


def test_vocab_persists_with_encoded_table(spark, tmp_path):
    """VERDICT r3 item 2: train_and_store_bpe on an encoded table trains
    ONCE and stores _bpe_merges.txt as table metadata; load_bpe_vocab
    reads it back identical, a resumed encode plus a second
    train_and_store_bpe keeps it untouched, and the sample is
    order-independent (hash-rank, not input order)."""
    import os

    from fileconvert_spark.plans.manifest import (
        BPE_VOCAB_FILE, encode_table, load_bpe_vocab, train_and_store_bpe,
    )

    rows = [(i, f"hug hug hug lowest lowest newest doc{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "enc")
    encode_table(spark, df, out, n_buckets=2, key_col="doc_id",
                 salt_cols=(), weight_col="text")
    train_and_store_bpe(df, out, "text")
    vocab_path = os.path.join(out, BPE_VOCAB_FILE)
    assert os.path.exists(vocab_path)
    merges = load_bpe_vocab(out)
    assert ("h", "u") in merges and ("hu", "g") in merges

    # resume: re-encoding must not retrain (file content byte-stable)
    before = open(vocab_path, "rb").read()
    encode_table(spark, df, out, key_col="doc_id", salt_cols=(),
                 weight_col="text")
    train_and_store_bpe(df.orderBy(F.desc("doc_id")), out, "text",
                        n_merges=8)
    assert open(vocab_path, "rb").read() == before

    # order independence: a reshuffled input trains the same vocab
    out2 = str(tmp_path / "enc2")
    train_and_store_bpe(df.orderBy(F.desc("doc_id")).repartition(7),
                        out2, "text")
    assert load_bpe_vocab(out2) == merges


def test_load_vocab_missing_raises(tmp_path):
    import pytest

    from fileconvert_spark.plans.manifest import load_bpe_vocab

    with pytest.raises(FileNotFoundError, match="_bpe_merges"):
        load_bpe_vocab(str(tmp_path))


def test_spark_udf_matches_driver_counts(spark):
    corpus = ["spark spark spark encode encode stream"] * 4
    merges = train_bpe(corpus, n_merges=24)
    tok = BPETokenizer(merges)
    rows = [(1, "spark encode"), (2, "stream decode"), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["n"] for r in df.select(
        "id", token_count_bpe_learned(F.col("text"), merges).alias("n")
    ).collect()}
    want = {i: tok.count(t or "") for i, t in rows}
    assert got == want
