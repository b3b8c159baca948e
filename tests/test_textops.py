

def test_dup_gram_fraction_cross_doc_shared_spans(spark):
    from ctinexus_spark.operators.prepare import dup_gram_fraction

    docs = spark.createDataFrame(
        [
            (1, "shared three gram one unique alpha"),
            (2, "shared three gram two unique beta"),
            (3, "totally different text here now"),
            (4, "xy"),  # shorter than n → zero grams
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in dup_gram_fraction(docs, n=3).collect()}
    # docs 1/2 share exactly the 3-gram "shared three gram"
    assert got[1].n_grams == 4 and got[1].n_shared == 1
    assert got[1].dup_fraction == 0.25
    assert got[2].n_shared == 1
    assert got[3].n_shared == 0 and got[3].dup_fraction == 0.0
    assert got[4].n_grams == 0 and got[4].dup_fraction == 0.0


def test_cdc_chunks_boundaries_stable_under_prefix_edit(spark):
    """The CDC property: inserting tokens at the front of a document
    shifts chunk indices but leaves every boundary-delimited chunk
    BODY after the first boundary byte-identical — fixed-stride
    chunking would rewrite all of them."""
    from ctinexus_spark.operators.prepare import cdc_chunks

    base = " ".join(f"tok{i}" for i in range(200))
    edited = "inserted words here " + base
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id int, text string"
    )
    got = cdc_chunks(docs).collect()
    c1 = [r.chunk_text for r in sorted((r for r in got if r.doc_id == 1), key=lambda r: r.chunk_idx)]
    c2 = [r.chunk_text for r in sorted((r for r in got if r.doc_id == 2), key=lambda r: r.chunk_idx)]
    assert len(c1) > 3  # boundaries actually fire at 1/16 per token
    # all chunks after the first are identical between the two docs
    assert c1[1:] == c2[len(c2) - len(c1) + 1:]
    # full coverage: concatenation reconstructs the document
    assert " ".join(c1) == base and " ".join(c2) == edited
