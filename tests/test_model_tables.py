"""Pluggable model tables: train-from-corpus, parquet roundtrip, and the
swap path into the same scoring machinery (no Spark needed)."""

from __future__ import annotations

import numpy as np

from safe_zone_spark.functions.langid import (
    classify_texts,
    load_centroid_parquet,
    train_centroids_from_texts,
    write_centroid_parquet,
)
from safe_zone_spark.functions.perplexity import (
    DEGENERATE_PPL,
    perplexity_batch,
    train_trigram_lm,
    write_trigram_parquet,
)


def test_train_and_roundtrip_centroids(tmp_path):
    labeled = [
        ("fr", "le chat est sur la table et le chien dort"),
        ("fr", "je suis dans la maison avec les enfants"),
        ("it", "il gatto e sul tavolo e il cane dorme"),
        ("it", "sono nella casa con i bambini oggi"),
    ]
    model = train_centroids_from_texts(labeled)
    cent, langs = model
    assert langs == ("fr", "it")
    assert cent.dtype == np.int64

    # the corpus-trained model drives the SAME classifier
    preds = classify_texts(
        ["le chien est dans la maison", "il cane e nella casa"], model=model
    )
    assert preds == ["fr", "it"]

    # parquet roundtrip is lossless → identical predictions
    path = str(tmp_path / "cent.parquet")
    write_centroid_parquet(path, model=model)
    loaded = load_centroid_parquet(path)
    assert loaded[1] == langs
    assert np.array_equal(loaded[0], cent)
    assert classify_texts(["le chien est dans la maison"], model=loaded) == ["fr"]


def test_custom_trigram_lm_scores_lower_on_in_domain_text(tmp_path):
    lm = train_trigram_lm(["abcabcabc abc abcabc"] * 5)
    in_domain, off_domain = perplexity_batch(["abcabc", "zqxzqx"], lm)
    assert in_domain < off_domain
    # backoff tiers: a seen trigram beats both fallbacks; an unseen byte in
    # a KNOWN context costs n(ctx)+256 (add-one row mass — more surprising
    # than total ignorance), an unseen context exactly 256
    seen, backoff, unseen = perplexity_batch(["abc", "abz", "zzz"], lm)
    assert seen < unseen < backoff
    assert unseen == DEGENERATE_PPL and abs(unseen - 256.0) < 1e-9
    # degenerate: too short for one trigram
    assert perplexity_batch(["ab", ""], lm).tolist() == [DEGENERATE_PPL] * 2
    # sparse parquet roundtrip preserves every key/logp bit
    import pyarrow.parquet as pq

    tri, ctx = write_trigram_parquet(
        str(tmp_path / "tri.parquet"), str(tmp_path / "ctx.parquet"), lm
    )
    t = pq.read_table(tri)
    assert np.array_equal(t.column("key").to_numpy(), lm.tri_keys)
    assert np.array_equal(t.column("logp").to_numpy(), lm.tri_logp)
    c = pq.read_table(ctx)
    assert np.array_equal(c.column("key").to_numpy(), lm.ctx_keys)


def test_ood_model_import_engine_matches_oracle(tmp_path):
    """VERDICT r3 #6: a model whose distribution deliberately differs from
    the embedded generator (trained on REVERSED word stocks — same bytes,
    alien trigram statistics) must round-trip through the parquet swap path
    and score IDENTICALLY in the engine (classify_texts — the UDF body) and
    the DuckDB relational oracle reading the same table."""
    import duckdb

    from safe_zone_spark.functions.langid import (
        langid_ngram_oracle_sql,
        train_nb_weights,
    )
    from safe_zone_spark.functions.langid_data import make_sentences, split_words

    labeled = []
    for i, lang in enumerate(("de", "en", "es")):
        train_w, _ = split_words(lang)
        rev = [w[::-1] for w in train_w]  # OOD: reversed vocabulary
        labeled.extend(
            (lang, s)
            for s in make_sentences(rev, lang=lang, n=30, seed=100 + i,
                                    min_words=8, max_words=20)
        )
    model = train_nb_weights(labeled)
    path = str(tmp_path / "ood_cent.parquet")
    write_centroid_parquet(path, model=model, train_key="ood-fixture")
    loaded = load_centroid_parquet(path)
    assert np.array_equal(loaded[0], model[0]) and loaded[1] == model[1]

    # score held-out reversed sentences + plain-English controls
    docs = []
    for i, lang in enumerate(("de", "en", "es")):
        _, held_w = split_words(lang)
        rev = [w[::-1] for w in held_w]
        docs.extend(make_sentences(rev, lang=lang, n=5, seed=200 + i,
                                   min_words=8, max_words=16))
    docs.append("the quick brown fox jumps over the lazy dog")
    docs.append("")
    engine_preds = classify_texts(docs, model=loaded)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{d}')" for i, d in enumerate(docs))
        + ") t(doc_id, text)"
    )
    oracle = dict(
        con.execute(langid_ngram_oracle_sql(path, table="docs")).fetchall()
    )
    assert [oracle[i] for i in range(len(docs))] == engine_preds
    # the OOD model genuinely classifies its own distribution (not 'und')
    assert set(engine_preds[:15]) <= {"de", "en", "es"}
    assert engine_preds[-1] == "und"


def test_ood_trigram_lm_import_engine_matches_oracle(tmp_path):
    """Same OOD swap proof for the perplexity LM: trained on reversed
    English, loaded back via load_trigram_parquet, engine scores ==
    DuckDB oracle scores on the same parquet tables."""
    import duckdb

    from safe_zone_spark.functions.langid_data import make_sentences, split_words
    from safe_zone_spark.functions.perplexity import (
        load_trigram_parquet,
        perplexity_oracle_sql,
    )

    train_w, held_w = split_words("en")
    corpus = [s + "." for s in make_sentences([w[::-1] for w in train_w],
                                              lang="en", n=60, seed=77)]
    lm = train_trigram_lm(corpus)
    tri = str(tmp_path / "ood_tri.parquet")
    ctx = str(tmp_path / "ood_ctx.parquet")
    write_trigram_parquet(tri, ctx, lm, train_key="ood-fixture")
    loaded = load_trigram_parquet(tri, ctx)
    assert np.array_equal(loaded.tri_keys, lm.tri_keys)
    assert np.array_equal(loaded.tri_logp, lm.tri_logp)

    docs = make_sentences([w[::-1] for w in held_w], lang="en", n=5, seed=88)
    docs += ["the quick brown fox", "zz"]
    engine = [round(float(v), 4) for v in perplexity_batch(docs, loaded)]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{d}')" for i, d in enumerate(docs))
        + ") t(doc_id, text)"
    )
    oracle = dict(
        con.execute(perplexity_oracle_sql(tri, ctx, table="docs")).fetchall()
    )
    assert [oracle[i] for i in range(len(docs))] == engine
    # in-domain (reversed held-out words) scores lower than plain English
    assert max(engine[:5]) < engine[5]


def test_batched_scoring_is_bit_identical_to_per_doc_forms():
    """The batched scorers (langid._batch_trigram_scores gather/reduceat,
    perplexity_batch's one-table-lookup-per-chunk) replaced per-doc numpy
    loops for throughput (~3x on the ~200-byte bench corpus). The rewrite
    is only legal because it is BIT-identical: int64 sums are
    order-exact, the masked concatenated trigram stream equals the
    per-doc streams, and each doc's mean is still np.mean over its own
    lp slice. Pin that equivalence on a mixed bag of edge cases."""
    from safe_zone_spark.functions.langid import (
        _CENTROID_LANGS,
        _CENTROIDS_INT,
        ASCII_WS,
        _trigram_indices,
        classify_texts,
        score_texts_top2,
    )
    from safe_zone_spark.functions.perplexity import (
        _LM,
        _doc_logps,
        perplexity_batch,
    )
    from safe_zone_spark.functions.quality_model import (
        _CLASSES,
        _WEIGHTS,
        HI,
        LO,
        quality_scores,
    )

    texts = [
        "", " ", "   ", "a", "ab", "abc", "\x1c\x1d\x1f",  # und/degenerate edges
        "The quick brown fox jumps over the lazy dog.",
        "le chien est dans la maison",
        "日本語のテキストです",
        "привет мир как дела",
        "x" * 2000, "a b " * 300,
        "mixed UPPER lower 123 !@# punctuation",
    ]

    # langid: per-doc reference (the pre-batching implementation)
    ref_preds = []
    for t in texts:
        if not t or not t.strip(ASCII_WS):
            ref_preds.append("und")
            continue
        idx = _trigram_indices(t)
        u, c = np.unique(idx, return_counts=True)
        ref_preds.append(_CENTROID_LANGS[int(np.argmax(_CENTROIDS_INT[:, u] @ c))])
    assert classify_texts(texts) == ref_preds

    # top2 keeps the same guards and tie order
    top2 = score_texts_top2(texts)
    assert [r[0] for r in top2[7:]] == ref_preds[7:]
    assert top2[0] == ("und", 0, "und", 0)

    # perplexity: batched == exp(-mean(per-doc logps)), bitwise
    got = perplexity_batch(texts)
    from safe_zone_spark.functions.perplexity import DEGENERATE_PPL

    for i, t in enumerate(texts):
        b = np.frombuffer(t.encode(), dtype=np.uint8).astype(np.int64)
        want = (
            DEGENERATE_PPL
            if len(b) < 3
            else float(np.exp(-_doc_logps(b, _LM).mean()))
        )
        assert got[i] == want, (i, t[:20], got[i], want)

    # quality model: per-doc reference, no whitespace guard
    ih, il = _CLASSES.index(HI), _CLASSES.index(LO)
    ref_q = []
    for t in texts:
        idx = _trigram_indices(t or "")
        if len(idx) == 0:
            ref_q.append((0, 0))
            continue
        u, c = np.unique(idx, return_counts=True)
        s = _WEIGHTS[:, u] @ c
        ref_q.append((int(s[ih]), int(s[il])))
    assert quality_scores(texts) == ref_q


def _dict_logps(text: str, lm) -> list[float]:
    """Pure-Python backoff reference: trigram hit → context → default."""
    tri = dict(zip(lm.tri_keys.tolist(), lm.tri_logp.tolist()))
    ctx = dict(zip(lm.ctx_keys.tolist(), lm.ctx_logp.tolist()))
    b = text.encode("utf-8")
    out = []
    for i in range(len(b) - 2):
        k = (b[i] << 16) | (b[i + 1] << 8) | b[i + 2]
        out.append(tri[k] if k in tri else ctx.get(k >> 8, lm.default_logp))
    return out


def test_perplexity_lookup_tiers_match_dict_reference():
    """The direct-address table returns, per trigram, exactly the float a
    dict lookup through the three backoff tiers returns — on a custom LM
    over multi-byte UTF-8 (bytes >= 0x80), with every tier exercised."""
    from safe_zone_spark.functions.perplexity import _lookup_logps

    lm = train_trigram_lm(["çok güzel bir gün", "öğle yemeği şimdi", "日本語"])
    docs = ["güzel gün şimdi", "日本語のテキスト", "zzz qqq", "çö", "ab",
            "öğle güzel 日本"]
    tri, ctx = set(lm.tri_keys.tolist()), set(lm.ctx_keys.tolist())
    tiers = set()
    for d in docs:
        b = d.encode()
        for i in range(len(b) - 2):
            k = (b[i] << 16) | (b[i + 1] << 8) | b[i + 2]
            tiers.add("tri" if k in tri else "ctx" if k >> 8 in ctx else "default")
    assert tiers == {"tri", "ctx", "default"}
    assert any(c >= 0x80 for d in docs for c in d.encode())

    got = perplexity_batch(docs, lm)
    for i, d in enumerate(docs):
        ref = _dict_logps(d, lm)
        b = np.frombuffer(d.encode(), dtype=np.uint8).astype(np.int64)
        if not ref:
            assert got[i] == DEGENERATE_PPL
            continue
        k3 = (b[:-2] << 16) | (b[1:-1] << 8) | b[2:]
        assert _lookup_logps(k3, lm).tolist() == ref, d
        assert got[i] == float(np.exp(-np.mean(np.array(ref)))), d


def test_perplexity_models_keep_their_own_tables():
    """Two custom LMs scored in alternation in one process: each call must
    read its own model's table, never one built for the other."""
    lm_a = train_trigram_lm(["alpha beta gamma delta", "beta gamma alpha"])
    lm_b = train_trigram_lm(["şu çiçek güzel", "güzel çiçek şu an"])
    docs = ["alpha gamma", "güzel çiçek", "beta şu"]
    want = {
        name: [float(np.exp(-np.mean(np.array(_dict_logps(d, lm))))) for d in docs]
        for name, lm in (("a", lm_a), ("b", lm_b))
    }
    assert want["a"] != want["b"]
    for name, lm in (("a", lm_a), ("b", lm_b), ("a", lm_a), ("b", lm_b)):
        assert perplexity_batch(docs, lm).tolist() == want[name], name


def test_make_lm_skips_unprobeable_keys_and_keeps_first_duplicate():
    """A foreign (key, logp) table may carry keys outside the byte domain or
    repeat a key: the former can never be probed, and for the latter the
    first occurrence wins, as the first match of a sorted-key search did."""
    from safe_zone_spark.functions.perplexity import DEFAULT_LOGP, _lookup_logps, make_lm

    lm = make_lm(np.array([-1, 0x616263, 0x616263, 1 << 24], dtype=np.int64),
                 np.array([-9.0, -1.0, -2.0, -9.0]),
                 np.array([0x6162, 1 << 16], dtype=np.int64),
                 np.array([-3.0, -9.0]))
    k3 = np.array([0x616263, 0x616264, 0x7A7A7A, 0xFFFFFF], dtype=np.int64)
    assert _lookup_logps(k3, lm).tolist() == [-1.0, -3.0, DEFAULT_LOGP, DEFAULT_LOGP]
