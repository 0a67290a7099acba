"""ML feature operators (SURVEY.md §2.7 R38-R41): Word2Vec, synonym search,
PCA, projection — the reference's MLlib recipes (README.md:361-422) over
DataFrames. Word2Vec runs on the ml.feature API. PCA needs only the d×d
covariance, so :func:`fit_pca` computes it in one Arrow co-moment pass
(P partition rows of d² doubles reach the driver) and eigendecomposes
it in numpy; :func:`pca_project` is plain column expressions.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_word2vec(
    df: DataFrame,
    tokens_col: str = "tokens",
    vector_size: int = 100,
    min_count: int = 2,
    seed: int = 42,
):
    """R38 (README.md:384-387): Word2Vec().setMinCount(2).fit(tokens)."""
    from pyspark.ml.feature import Word2Vec

    w2v = Word2Vec(
        vectorSize=vector_size,
        minCount=min_count,
        seed=seed,
        inputCol=tokens_col,
        outputCol="w2v",
    )
    return w2v.fit(df)


def find_synonyms(model, word: str, k: int = 10) -> DataFrame:
    """R39 (README.md:388-392): top-k cosine neighbors of ``word``."""
    return model.findSynonyms(word, k)


class PCAModel(NamedTuple):
    """A fitted :func:`fit_pca`: ``pc`` is the d×k component matrix (an
    ``ml.linalg.DenseMatrix``, columns in descending variance order, each
    signed so that its largest-magnitude entry is positive) and
    ``explainedVariance`` the k components' shares of the total variance
    (a ``DenseVector``). Project with :func:`pca_project`; persist the
    two as plain arrays."""

    pc: object
    explainedVariance: object


def _comoments(batches):
    """mapInArrow kernel over one array<double> column: one ``(n, mean,
    m2, err)`` row per non-empty partition, where ``m2`` is the centered
    co-moment matrix Σ(x−mean)(x−mean)ᵀ flattened row-major, its batches
    merged by :func:`_merge_comoments`. ``err`` names the first
    malformed input seen (a NULL array, a NULL element, or ragged
    widths) so that the driver raises on it rather than a worker."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    acc, err = None, None
    for b in batches:
        arrs = b.column(0)
        if err or not len(arrs):
            continue
        flat = arrs.flatten()
        widths = pc.list_value_length(arrs).to_numpy(zero_copy_only=False)
        if arrs.null_count:
            err = "holds a NULL array"
        elif flat.null_count:
            err = "holds an array with a NULL element"
        elif (widths != widths[0]).any() or (
            acc is not None and widths[0] != len(acc[1])
        ):
            err = "holds arrays of different lengths"
        else:
            x = flat.to_numpy().reshape(len(arrs), int(widths[0]))
            mean = x.mean(axis=0)
            xc = x - mean
            part = (len(x), mean, xc.T @ xc)
            acc = part if acc is None else _merge_comoments(acc, part)
    if acc is None and err is None:
        return
    n, mean, m2 = acc if err is None else (0, np.zeros(0), np.zeros(0))
    yield pa.RecordBatch.from_pydict(
        {
            "n": [n],
            "mean": [mean.tolist()],
            "m2": [m2.ravel().tolist()],
            "err": [err],
        },
        schema=pa.schema([
            ("n", pa.int64()),
            ("mean", pa.list_(pa.float64())),
            ("m2", pa.list_(pa.float64())),
            ("err", pa.string()),
        ]),
    )


def _merge_comoments(a, b):
    """Chan, Golub & LeVeque's pairwise update of (n, mean, M2): exact in
    exact arithmetic and, unlike Σxxᵀ − n·μμᵀ, free of the cancellation
    that large means cause."""
    na, ma, m2a = a
    nb, mb, m2b = b
    n = na + nb
    delta = mb - ma
    return (
        n,
        ma + delta * (nb / n),
        m2a + m2b + (na * nb / n) * (delta[:, None] * delta[None, :]),
    )


def fit_pca(df: DataFrame, array_col: str = "embedding", k: int = 20) -> PCAModel:
    """R40 (README.md:410-418): top-k principal components, as
    RowMatrix.computePrincipalComponents(k) defines them: the top-k
    eigenvectors of the sample covariance, with explained variance =
    eigenvalue / sum of all eigenvalues.

    One Spark job: a mapInArrow pass over ``array_col`` (cast to
    array<double>) computes each partition's count, mean and centered
    co-moment matrix in numpy, merging batches pairwise; the driver
    merges the partition rows the same way and runs
    ``numpy.linalg.eigh`` on the d×d covariance. Components are signed
    so that each one's largest-magnitude entry is positive, which makes
    the fit deterministic.

    Scale shape: one scan, no shuffle; P partition rows of d + d²
    doubles reach the driver, independent of the row count.

    Raises ``ValueError`` for fewer than 2 rows, ``k`` outside [1, d],
    or a NULL array, NULL element or ragged widths in ``array_col``."""
    import numpy as np
    from pyspark.ml.linalg import DenseMatrix, DenseVector

    if k < 1:
        raise ValueError(f"fit_pca: k must be at least 1, got {k}")
    parts = (
        df.select(F.col(array_col).cast("array<double>"))
        .mapInArrow(
            _comoments,
            "n long, mean array<double>, m2 array<double>, err string",
        )
        .collect()
    )
    bad = next((r["err"] for r in parts if r["err"]), None)
    if bad is None and len({len(r["mean"]) for r in parts}) > 1:
        bad = "holds arrays of different lengths"
    if bad:
        raise ValueError(f"fit_pca: column {array_col!r} {bad}")
    acc = None
    for r in parts:
        d = len(r["mean"])
        part = (
            r["n"],
            np.array(r["mean"]),
            np.array(r["m2"]).reshape(d, d),
        )
        acc = part if acc is None else _merge_comoments(acc, part)
    n = acc[0] if acc else 0
    if n < 2:
        raise ValueError(
            f"fit_pca: needs at least 2 rows of {array_col!r}, got {n}"
        )
    d = len(acc[1])
    if k > d:
        raise ValueError(f"fit_pca: k must be at most d={d}, got {k}")
    w, v = np.linalg.eigh(acc[2] / (n - 1))
    top = np.argsort(w)[::-1][:k]
    pc = v[:, top]
    pc *= np.where(pc[np.abs(pc).argmax(axis=0), range(k)] < 0, -1.0, 1.0)
    return PCAModel(
        DenseMatrix(d, k, pc.ravel(order="F").tolist()),
        DenseVector(w[top] / w.sum()),
    )


def pca_project(model: PCAModel, df: DataFrame, array_col: str = "embedding") -> DataFrame:
    """R41 (README.md:421): mat.multiply(pc) — adds a ``pca`` Vector
    column of the rows projected onto the principal subspace. Like
    MLlib's ``PCAModel.transform`` it does not center. The projection is
    k literal dot-product expressions over ``array_col`` wrapped in the
    JVM ``array_to_vector``: no Python at action time."""
    from functools import reduce
    from operator import add

    from pyspark.ml.functions import array_to_vector

    x = F.col(array_col)
    dots = [
        reduce(add, (x.getItem(i) * F.lit(float(c)) for i, c in enumerate(comp)))
        for comp in model.pc.toArray().T
    ]
    return df.withColumn("pca", array_to_vector(F.array(*dots)))


def quality_classifier_fit(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    num_features: int = 4096,
    reg_param: float = 0.01,
    max_iter: int = 50,
):
    """Fit a fastText-style discriminative quality classifier: hashed
    bag-of-words features → logistic regression — the model-based corpus
    filter of the CCNet/LLaMA data recipes ("train a linear classifier
    to recognize reference-quality pages, keep what it scores high"),
    complementing the generative LM-perplexity tiers in
    operators/text.py (lm_quality_score: what a reference corpus makes
    LIKELY; this: what separates two labeled corpora).

    ``labeled`` needs ``text_col`` and a 0/1 ``label_col`` (1 = keep
    quality). Returns a fitted PipelineModel (tokenizer → HashingTF →
    IDF → LogisticRegression), all JVM-side; seeds fixed, so the fit is
    deterministic for a given input partitioning.

    Scale shape: training is Spark ML's distributed L-BFGS over the
    hashed feature space (``num_features`` dims, constant per doc);
    per-iteration cost is one tree-aggregated gradient pass — linear in
    docs. No vocabulary state beyond the IDF vector (``num_features``
    doubles, broadcast at scoring time).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, IDF, RegexTokenizer

    tok = RegexTokenizer(
        inputCol=text_col, outputCol="_qc_toks", pattern=r"\s+"
    )
    tf = HashingTF(
        inputCol="_qc_toks", outputCol="_qc_tf", numFeatures=num_features
    )
    idf = IDF(inputCol="_qc_tf", outputCol="_qc_features")
    lr = LogisticRegression(
        featuresCol="_qc_features",
        labelCol=label_col,
        regParam=reg_param,
        maxIter=max_iter,
        standardization=True,
    )
    return Pipeline(stages=[tok, tf, idf, lr]).fit(labeled)


def quality_classifier_score(
    model,
    df: DataFrame,
    text_col: str = "text",
    out: str = "quality_prob",
) -> DataFrame:
    """Score a corpus with a fitted :func:`quality_classifier_fit` model:
    adds ``out`` = P(label=1) and drops the intermediate feature columns.
    One codegen'd map pass over the scan (the model's vectors broadcast
    in the transform closures); filter downstream with
    ``df.filter(F.col(out) >= threshold)`` or feed the probability to
    :func:`~datamunging_spark.operators.text.lm_quality_bands`-style
    banding.
    """
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(df)
    return scored.withColumn(
        out, vector_to_array("probability").getItem(1)
    ).drop("_qc_toks", "_qc_tf", "_qc_features", "rawPrediction",
           "probability", "prediction")
