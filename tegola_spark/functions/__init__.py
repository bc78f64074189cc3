"""Pure kernels: tile grid math, web-mercator, cell index, SoA geometry, text."""
