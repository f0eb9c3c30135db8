from ._zipimport_guard import install as _install_zipimport_guard

# Python workers import this package when they unpickle the first extraction
# UDF; from then on each of their tasks skips re-reading unchanged archives.
_install_zipimport_guard()
