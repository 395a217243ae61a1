"""Stage code: the frames, columns and artifacts that the declared
queries (``plans``) and the pipelines compose, one module per operator
family of SURVEY.md §2."""
