"""Drop-in user API mirroring the reference's surface.

Reference workflow (README.md:128-139):

    import phonlp
    model = phonlp.load(save_dir=...)
    model.annotate(text="Nguyễn_Văn_A thăm Hà_Nội .")
    model.annotate(input_file=..., output_file=..., output_type="conll")

Equivalent here:

    import phonlp_spark.api as phonlp
    model = phonlp.load()                       # seeded weights; load(save_dir) reads a checkpoint
    model.annotate(text="Nguyễn_Văn_A thăm Hà_Nội .")   # single-process, no Spark
    model.annotate(input_file=..., output_file=..., output_type="conll")
    model.annotate_df(spark, documents_df)      # the distributed path

Return shape of `annotate(text=...)` matches the reference tuple
(data, preds_pos, preds_ner, preds_dep) with preds_dep entries
[str(head), deprel] (annotate_model.py:294-295); file output writes
the same 6-column / 10-column TSV blocks (annotate_model.py:296-339).
"""

from __future__ import annotations

import functools

from phonlp_spark.kernel.annotate import AnnotationKernel
from phonlp_spark.kernel.checkpoint import load_checkpoint


class Model:
    def __init__(self, kernel: AnnotationKernel):
        self.kernel = kernel

    # -- reference-parity single-process API --------------------------
    def annotate(self, text: str | None = None, input_file: str | None = None,
                 output_file: str | None = None, output_type: str = ""):
        if text is not None:
            data = [text.split(" ")]
        else:
            with open(input_file, encoding="utf-8") as f:
                data = [ln.strip().split(" ") for ln in f if ln.strip()]
        anns = self.kernel.annotate(data)
        preds_pos = [[[t] for t in a["upos"]] for a in anns]
        preds_ner = [a["ner"] for a in anns]
        preds_dep = [[[str(h), r] for h, r in zip(a["head"], a["deprel"])]
                     for a in anns]
        if output_file is None:
            return (data, preds_pos, preds_ner, preds_dep)
        with open(output_file, "w", encoding="utf-8") as f:
            for a in anns:
                for j, w in enumerate(a["tokens"]):
                    if output_type == "conll":
                        f.write("\t".join([
                            str(j + 1), w, "_", "_", a["upos"][j], "_",
                            str(a["head"][j]), a["deprel"][j], "_", a["ner"][j],
                        ]) + "\n")
                    else:
                        f.write("\t".join([
                            str(j + 1), w, a["upos"][j], a["ner"][j],
                            str(a["head"][j]), a["deprel"][j],
                        ]) + "\n")
                f.write("\n")
        return None

    def print_out(self, output, output_type: str = "") -> None:
        data, preds_pos, preds_ner, preds_dep = output
        for i, sent in enumerate(data):
            for j, w in enumerate(sent):
                if output_type == "conll":
                    print("\t".join([
                        str(j + 1), w, "_", "_", preds_pos[i][j][0], "_",
                        preds_dep[i][j][0], preds_dep[i][j][1], "_",
                        preds_ner[i][j]]))
                else:
                    print("\t".join([
                        str(j + 1), w, preds_pos[i][j][0], preds_ner[i][j],
                        preds_dep[i][j][0], preds_dep[i][j][1]]))

    # -- distributed path ----------------------------------------------
    def annotate_df(self, spark, documents, salt_partitions: int | None = None):
        """Interleaved documents DataFrame -> annotated sentence rows
        (see phonlp_spark.pipeline.annotate for the exploded views),
        annotated by a rebuilt twin of this model's kernel."""
        from phonlp_spark.pipeline.annotate import annotate_sentences_df
        from phonlp_spark.pipeline.ingest import split_sentences

        k = self.kernel
        factory = functools.partial(AnnotationKernel, k.weights,
                                    k.encoder.seed, k.encoder.dim)
        return annotate_sentences_df(split_sentences(documents), salt_partitions,
                                     kernel_factory=factory)


def load(save_dir: str | None = None, seed: int = 42) -> Model:
    """Reference-shaped loader: weights from the checkpoint in
    `save_dir` (kernel/checkpoint.load_checkpoint), else the
    deterministic seeded set; `seed` also seeds the hashed encoder."""
    weights = None if save_dir is None else load_checkpoint(save_dir)
    return Model(AnnotationKernel(weights=weights, seed=seed))
